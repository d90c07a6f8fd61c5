package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Multimodal, Similarity, TextOps}

/** LLM-pipeline operator semantics on the driver's sf0.001 fixtures. */
class OpsSpec extends SparkSpecBase {
  private val dir = "/root/testdata/sf0.001"

  private def docs: DataFrame = spark.read.parquet(s"$dir/documents.parquet")
  private def embs: DataFrame = spark.read.parquet(s"$dir/embeddings.parquet")

  private def planted(exact: Boolean): DataFrame = {
    val p0 = docs.filter(col("doc_id") < 20)
      .withColumn("doc_id", col("doc_id") + 100000)
    val p = if (exact) p0
      else p0.withColumn("text", concat(col("text"), lit(" tail")))
    docs.unionByName(p)
  }

  test("exact dedup finds exactly the planted copies") {
    val groups = Dedup.exactGroups(planted(exact = true)).collect()
    assert(groups.length == 20)
    assert(groups.forall(_.getAs[Long]("n") == 2))
    // canonical id is always the original, not the plant
    assert(groups.forall(_.getAs[Long]("canonical_id") < 20))
  }

  test("minhash LSH surfaces planted near-dup pairs") {
    val pairs = Dedup.minhashPairs(planted(exact = false), k = 8, bands = 4)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    val expected = (0L until 20L).map(i => (i, i + 100000)).toSet
    val found = expected.intersect(pairs)
    // banded MinHash is probabilistic; at j≈0.9+ virtually all planted
    // pairs must collide in at least one of 4 bands
    assert(found.size >= 18, s"only ${found.size}/20 planted pairs found")
  }

  test("fused minhash keys are byte-equal to the md5/substring chain") {
    // the fused long-key path (MinhashLongsExpr + hex recovery) must reproduce every m0..m7 signature
    // column bit-for-bit (the band keys, the oracle CTEs and the
    // streaming ingest index all hang off these strings); gate on the
    // planted corpus plus unicode/empty-ish shingle shapes
    val extra = spark.createDataFrame(Seq((900001L, "naïve 你好 ß"),
      (900002L, "a b c"), (900003L, "x y z w"))).toDF("doc_id", "text")
    val docsAll = planted(exact = false).select("doc_id", "text").unionByName(extra)
    val fused = Dedup.minhashSignatures(docsAll, 8)
    val builtin = Dedup.sigsFromShinglesBuiltin(Dedup.shingleRows(docsAll, 3), 8)
    assert(fused.exceptAll(builtin).isEmpty && builtin.exceptAll(fused).isEmpty)
    assert(fused.count() > 0)
  }

  test("fused bootstrap weights are byte-equal to the md5Hash60/poissonWeight chain") {
    import org.apache.spark.sql.functions._
    // edge keys (0, 1, max-ish) + a key range; every (key, b, w) triple
    // must match the per-replica column chain the oracle replays
    val keys = spark.range(0, 500).select(col("id").as("k"))
      .unionByName(spark.createDataFrame(Seq(Tuple1(0L), Tuple1(1L),
        Tuple1(999999999999L))).toDF("k"))
    val fused = keys.select(col("k"),
      posexplode(graft.functions.BootstrapWeightsExpr(col("k"), 32))
        .as(Seq("b", "w")))
    val builtin = keys.select(col("k"), explode(expr("sequence(0, 31)")).as("b"))
      .withColumn("w", graft.ops.Stats.poissonWeight(
        graft.functions.GraftFunctions.md5Hash60(
          concat_ws(":", col("k"), col("b")))))
      .select("k", "b", "w")
    assert(fused.exceptAll(builtin).isEmpty && builtin.exceptAll(fused).isEmpty)
    // sanity: weights span the Poisson(1) support (0 and >=2 both occur)
    val ws = fused.select("w").distinct().collect().map(_.getLong(0)).toSet
    assert(ws.contains(0L) && ws.exists(_ >= 2L))
  }

  test("cross-corpus matches flag near-copy and exact batch docs, pass novel ones") {
    // batch: 20 near-copies of corpus docs 0..19 (+100000), one exact
    // re-crawl of doc 30 (+200000), and one doc of pure novel text
    val near = docs.filter(col("doc_id") < 20)
      .withColumn("doc_id", col("doc_id") + 100000)
      .withColumn("text", concat(col("text"), lit(" tail")))
    val recrawl = docs.filter(col("doc_id") === 30)
      .withColumn("doc_id", col("doc_id") + 200000)
    val novel = spark.createDataFrame(Seq(
      (300000L, (1 to 60).map(i => s"novelword$i").mkString(" "), "en", "novel", 60L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val batch = near.unionByName(recrawl).unionByName(novel)
    val m = Dedup.crossCorpusMatches(docs, batch).collect()
      .map(r => r.getAs[Long]("batch_id") -> r.getAs[Long]("first_dup")).toMap
    // the exact re-crawl MUST collide with its original in every band
    assert(m.get(200030L).contains(30L), s"re-crawl not matched: $m")
    // near-copies: banded MinHash probabilistic, require >= 18/20
    val nearHits = (0L until 20L).count(i => m.contains(i + 100000))
    assert(nearHits >= 18, s"only $nearHits/20 near-copies matched")
    // pure novel text must pass through unmatched
    assert(!m.contains(300000L), "novel doc falsely matched")
  }

  test("fast murmur minhash agrees with md5 minhash on planted pairs") {
    val fast = Dedup.minhashPairsFast(planted(exact = false))
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    val expected = (0L until 20L).map(i => (i, i + 100000)).toSet
    assert(expected.intersect(fast).size >= 18)
  }

  test("simhash pairs: planted near-dups within hamming 3") {
    val pairs = Dedup.simhashPairs(planted(exact = false), maxHamming = 3)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    val expected = (0L until 20L).map(i => (i, i + 100000)).toSet
    assert(expected.intersect(pairs).size >= 15)
  }

  test("portable md5 simhash finds the same planted near-dups as murmur") {
    val portable = Dedup.simhashPairs(planted(exact = false), maxHamming = 3, portable = true)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    val expected = (0L until 20L).map(i => (i, i + 100000)).toSet
    assert(expected.intersect(portable).size >= 15,
      s"only ${expected.intersect(portable).size}/20 planted pairs found")
    // banding at 4x16 bits is exhaustive for hamming<=3 (pigeonhole):
    // every reported pair must genuinely be within distance 3
    val sh = Dedup.simhash(planted(exact = false), portable = true)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(portable.forall { case (a, b) =>
      java.lang.Long.bitCount(sh(a) ^ sh(b)) <= 3
    })
  }

  test("ngram jaccard: minhash-prefiltered, planted pairs score high, symmetric-free") {
    val out = Dedup.ngramJaccardPairs(planted(exact = false), n = 3, threshold = 0.5)
      .collect()
    val pairs = out.map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(out.forall(r => r.getAs[Long]("a") < r.getAs[Long]("b")))
    val expected = (0L until 20L).map(i => (i, i + 100000)).toSet
    // candidates now come from banded MinHash (keyed joins, no
    // source-block all-pairs): recall is the bands' — same >=18/20
    // bound as the minhash test — and every surviving pair is
    // exact-Jaccard-verified
    val found = expected.intersect(pairs)
    assert(found.size >= 18, s"only ${found.size}/20 planted pairs found")
    assert(out.filter(r => expected((r.getAs[Long]("a"), r.getAs[Long]("b"))))
      .forall(_.getAs[Double]("jaccard") > 0.8))
  }

  test("ngramJaccardPairsAuto: schedule clamps to 128 below the knee (same output), shrinks past it") {
    // below the budget/128 knee (~16k docs) the schedule returns exactly
    // the fixed cap, so the Auto path must be row-identical to the base
    // operator — the property that makes switching the registrations a
    // no-op at the declared SFs
    val docs = planted(exact = false)
    assert(Dedup.containmentSchedule(docs.count()) == 128)
    val auto = Dedup.ngramJaccardPairsAuto(docs, n = 3, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    val base = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(auto == base)
    // past the knee the cap shrinks (the 10×/30× probe values the
    // Scaladoc declares), monotonically, never below the floor
    assert(Dedup.containmentSchedule(50000L) == 41)
    assert(Dedup.containmentSchedule(150000L) == 13)
    assert(Dedup.containmentSchedule(10000000L) == 8)
  }

  test("dropHotBands: hot (band,key) groups refused, cold bands keep pairing") {
    import spark.implicits._
    val banded = ((0 until 300).map(i => (i.toLong, 0, "HOT")) ++
      Seq((1L, 1, "COLD"), (2L, 1, "COLD"))).toDF("doc_id", "band", "key")
    val kept = Dedup.dropHotBands(banded, cap = 128).collect()
    // the 300-member group is gone entirely; docs 1 and 2 — members of
    // the hot band — still co-occur via their cold band
    assert(kept.length == 2)
    assert(kept.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L))
    assert(Dedup.dropHotBands(banded, cap = 0).count() == 302) // disabled
  }

  /** 500 docs with IDENTICAL text — every (band, key) group they form
    * has 500 members, far over the 128 cap, so unguarded banded LSH
    * would emit 500·499/2 ≈ 125k pure-boilerplate candidate pairs. Two
    * distinct near-dup docs ride along in cold (2-member) bands.
    */
  private def boilerplateCorpus: DataFrame = {
    import spark.implicits._
    val boiler = (0L until 500L).map(i => (i,
      "shared boilerplate header nav footer copyright terms privacy contact about", "w"))
    // long unique docs: one appended token keeps simhash within
    // hamming 3 (short docs flip too many near-zero bit sums)
    val uniq = (0 until 100).map(i => s"uniqueword$i").mkString(" ")
    val near = Seq((9000L, uniq, "w"), (9001L, s"$uniq omega", "w"))
    (boiler ++ near).toDF("doc_id", "text", "source")
  }

  test("frequent-band cap: boilerplate bands refused in minhash AND simhash; cold pairs survive") {
    val mh = Dedup.minhashPairs(boilerplateCorpus, k = 8, bands = 4)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(!mh.exists { case (a, b) => a < 500 && b < 500 },
      s"minhash leaked boilerplate pairs (${mh.count { case (a, b) => a < 500 && b < 500 }})")
    assert(mh((9000L, 9001L)), "minhash lost the cold-band near-dup pair")
    val sh = Dedup.simhashPairs(boilerplateCorpus, maxHamming = 3, portable = true)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(!sh.exists { case (a, b) => a < 500 && b < 500 },
      s"simhash leaked boilerplate pairs (${sh.count { case (a, b) => a < 500 && b < 500 }})")
    assert(sh((9000L, 9001L)), "simhash lost the cold-band near-dup pair")
  }

  test("containment: stop-shingle cap refuses boilerplate; quote-in-doc pair scores 1.0 where Jaccard misses it") {
    import spark.implicits._
    val uniq = (0 until 100).map(i => s"uniqueword$i").mkString(" ")
    // a 10-word quote fully embedded in the 100-word doc: containment
    // 8/8 = 1.0, Jaccard 8/98 ≈ 0.08 — the asymmetric-overlap case
    val quote = (0 until 10).map(i => s"uniqueword$i").mkString(" ")
    val docs = ((0L until 500L).map(i => (i,
      "shared boilerplate header nav footer copyright terms privacy contact about", "w")) ++
      Seq((9000L, uniq, "w"), (9100L, quote, "w"))).toDF("doc_id", "text", "source")
    val out = Dedup.containmentPairs(docs, threshold = 0.8).collect()
    val pairs = out.map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    // every boilerplate shingle has df = 500 > cap: dropped BEFORE the
    // inverted-index join, so the 500·499/2 all-pairs block never forms
    assert(!pairs.exists { case (a, b) => a < 500 && b < 500 },
      s"stop-shingle cap leaked boilerplate pairs (${pairs.count { case (a, b) => a < 500 && b < 500 }})")
    val q = out.find(r => r.getAs[Long]("a") == 9000L && r.getAs[Long]("b") == 9100L)
    assert(q.isDefined, "contained quote pair missing")
    assert(q.get.getAs[Double]("containment") == 1.0)
    assert(q.get.getAs[Long]("contained_id") == 9100L, "contained_id must be the smaller-set side")
    // the Jaccard detector (same corpus, same shingles) cannot see it
    val jac = Dedup.ngramJaccardPairs(docs, threshold = 0.5).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(!jac((9000L, 9100L)), "quote pair should be invisible to Jaccard at 0.5")
  }

  test("containment schedule: declared SFs keep cap 128, knee drops it 1/n, auto == fixed at the scheduled cap") {
    // the schedule's integer form: clamp(8, 128, 2^21 // n)
    assert(Dedup.containmentSchedule(520) == 128)    // sf0.01 + plants
    assert(Dedup.containmentSchedule(5020) == 128)   // sf0.1 + plants
    assert(Dedup.containmentSchedule(16384) == 128)  // the knee
    assert(Dedup.containmentSchedule(50020) == 41)   // 10x probe corpus
    assert(Dedup.containmentSchedule(150020) == 13)  // 30x
    assert(Dedup.containmentSchedule(1L << 30) == 8) // floor
    // auto must be EXACTLY the fixed operator at the scheduled cap —
    // the declared query's oracle replays this equality in SQL
    val d = docs.limit(400)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Double]("containment"))).toSet
    val n = d.count()
    assert(key(Dedup.containmentPairsAuto(d, threshold = 0.5)) ==
      key(Dedup.containmentPairs(d, threshold = 0.5,
        maxShingleDf = Dedup.containmentSchedule(n))))
  }

  test("LSH-bucketed embedding near-dups: precision 1 vs brute force, recall measured") {
    def pairsOf(df: DataFrame) =
      df.collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    val exact = pairsOf(Reference.embeddingNearDupsExact(embs, 0.45))
    val lsh = pairsOf(Dedup.embeddingNearDups(embs, 0.45))
    assert(exact.nonEmpty)
    assert(lsh.subsetOf(exact), "LSH path reported a pair below threshold")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.4, s"embedding LSH recall $recall too low (8 tables × 6 bits)")
  }

  test("narrow broadcast-attach embedding near-dups equal the wide form byte-for-byte") {
    // same raw candidate multiset (bucket-equality self-join), same
    // exact rounded cosine, same final distinct — only where the
    // vectors travel differs. Gate the full (a, b, cos) triple at two
    // knob points, including the schedule the auto path would pick.
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Double]("cos"))).toSet
    for ((bits, tables) <- Seq((6, 8), Dedup.lshSchedule(embs.count()))) {
      val wide = rows(Dedup.embeddingNearDups(embs, 0.45, 64, bits, tables))
      val narrow = rows(Dedup.embeddingNearDupsNarrow(embs, 0.45, 64, bits, tables))
      assert(wide.nonEmpty, s"fixture produced no pairs at ($bits, $tables)")
      assert(wide == narrow,
        s"narrow form diverges at ($bits, $tables): " +
          s"wide-only=${wide -- narrow} narrow-only=${narrow -- wide}")
    }
  }

  test("auto-tuned embedding near-dup stays a subset of brute force; small corpus keeps small-corpus knobs") {
    def pairsOf(df: DataFrame) =
      df.collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    val auto = pairsOf(Dedup.embeddingNearDupsAuto(embs, 0.45))
    val exact = pairsOf(Reference.embeddingNearDupsExact(embs, 0.45))
    assert(auto.nonEmpty && auto.subsetOf(exact))
    // at the fixture's n (< targetBucket * 2^6) the schedule must not
    // exceed the small-corpus default, so recall is >= the fixed-knob
    // variant's measured floor
    val recall = auto.size.toDouble / exact.size
    assert(recall >= 0.4, s"auto-tuned recall $recall")
  }

  test("LSH->PQ generator escalation: knee/schedule pinned; both generators find the planted dups and verify exactly") {
    // the knee is the occupancy law, not a magic constant: bits clamps
    // at 12, so past 2^12 * targetBucket * 128 the bucket self-join is
    // 128x past its design occupancy — the knob sheet's manual switch,
    // now scheduled
    assert(Dedup.lshOccupancyKnee() == (1L << 12) * 20L * 128L)
    // pq knobs replay from count(*): ksub^4 tracks n/targetCell,
    // clamped to 8-bit codes
    assert(Dedup.pqSchedule(100L) == ((4, 8)))
    assert(Dedup.pqSchedule(11L * 1000 * 1000) == ((4, 32)))
    assert(Dedup.pqSchedule(1000L * 1000 * 1000 * 1000) == ((4, 256)))
    // fixture where BOTH generators run: planted 0.99-scaled siblings
    // (cos = 1.0, same direction) must be found by the below-knee LSH
    // branch AND by the past-knee PQ branch at this corpus's pqSchedule
    // knobs, and every pair either branch emits must be exact-cosine
    // true (subset of brute force) — the escalation changes candidate
    // RECALL shape only, never verify semantics
    val base = embs.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val plantedSibs = base.filter(col("vec_id") < 10)
      .select((col("vec_id") + 900000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(0.99)).as("embedding"))
    val corpus = base.unionByName(plantedSibs)
    val n = corpus.count()
    assert(n < Dedup.lshOccupancyKnee(), "fixture must sit below the knee")
    def pairsOf(df: DataFrame) =
      df.collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    val lsh = pairsOf(Dedup.embeddingNearDupsAuto(corpus, 0.45))
    val (m, ksub) = Dedup.pqSchedule(n)
    val pq = pairsOf(Similarity.pqCodeDups(corpus, m, ksub, iters = 2,
      threshold = 0.45))
    val exact = pairsOf(Reference.embeddingNearDupsExact(corpus, 0.45))
    val expected = (0L until 10L).map(i => (i, i + 900000L)).toSet
    assert(expected.subsetOf(lsh), s"LSH missed ${expected -- lsh}")
    assert(expected.subsetOf(pq), s"PQ missed ${expected -- pq}")
    assert(lsh.subsetOf(exact) && pq.subsetOf(exact),
      "a generator emitted a pair below the exact-cosine threshold")
  }

  test("brute-force cosine top-k is k rows per query, ranked") {
    val out = Similarity.bruteForceTopK(embs, Seq(0L, 1L), k = 5).collect()
    assert(out.length == 10)
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.keySet == Set(0L, 1L))
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to 5))
      // cosine non-increasing with rank
      val cos = sorted.map(_.getAs[Double]("cos")).toSeq
      assert(cos.zip(cos.tail).forall { case (x, y) => x >= y })
    }
  }

  test("IVF ANN carries a 200-id query set through ONE probe join (no per-query branches)") {
    val qids = (0L until 200L).toSeq
    val df = Similarity.ivfTopK(embs, qids, k = 3)
    val rows = df.collect()
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.keySet == qids.toSet,
      s"queries without results: ${(qids.toSet -- byQ.keySet).take(5)}")
    assert(rows.forall(_.getAs[Int]("rank") <= 3))
    // the logical lineage must be |Q|-independent: one probe join, no
    // per-query Union branches (the old shape was one branch per id)
    val lp = df.queryExecution.analyzed.toString
    assert(!lp.contains("Union"), "per-query union branches back in the ANN plan")
  }

  test("IVF ANN recall vs brute force is substantial and candidate set is pruned") {
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val exact = Similarity.bruteForceTopK(embs, qids, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val approx = Similarity.ivfTopK(embs, qids, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF recall $recall too low")
  }

  test("IVF trainers refuse driver-side k-means past the centroid cap") {
    // 70000 cells/list x 64 dims = 4.48M cells > MaxDriverCentroidCells
    // (2^22): every trainer — including IVFPQ's coarse quantizer — must
    // fail fast with the guard message naming the cap and the model
    // size, not start Lloyd rounds
    def guarded(run: => Any): Unit = {
      val e = intercept[IllegalArgumentException](run)
      assert(e.getMessage.contains(
        "nlist*dim = 70000x64 = 4480000 cells exceeds the driver cap of " +
          s"${Similarity.MaxDriverCentroidCells} cells"), e.getMessage)
    }
    guarded(Similarity.ivfTopK(embs, Seq(0L), k = 5, nlist = 70000))
    guarded(Similarity.ivfFixedPointTopK(embs, Seq(0L), k = 5, nlist = 70000))
    guarded(Similarity.ivfPqTopK(embs, Seq(0L), nlist = 70000))
  }

  test("a past-cap fixed-point IVF call is refused after one one-task job and persists nothing") {
    // the vector dimension is a property of the rows (an array column), so
    // the refusal reads one row; no seed sort, collect or Lloyd round runs
    val e0 = embs
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    var err: IllegalArgumentException = null
    val jobs = jobsStartedBy {
      err = intercept[IllegalArgumentException](
        Similarity.ivfFixedPointTopK(e0, Seq(0L), k = 5, nlist = 70000))
    }
    assert(err.getMessage.contains(s"exceeds the driver cap of ${Similarity.MaxDriverCentroidCells}"),
      err.getMessage)
    assert(jobs.map(_.stageInfos.map(_.numTasks).sum) == Seq(1),
      s"tasks per job: ${jobs.map(_.stageInfos.map(_.numTasks))}")
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted)
  }

  test("fixed-point IVF recall is substantial and reruns are bit-identical") {
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val exact = Similarity.bruteForceTopK(embs, qids, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    def run() = Similarity.ivfFixedPointTopK(embs, qids, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cos"), r.getAs[Int]("rank"))).toSet
    val a = run()
    val recall = exact.intersect(a.map(t => (t._1, t._2))).size.toDouble / exact.size
    assert(recall >= 0.3, s"fixed-point IVF recall $recall too low")
    // integer training must make the whole result reproducible, not
    // merely the candidate quality
    assert(a == run())
  }

  test("fuzzy decontamination flags every paraphrased benchmark plant") {
    val plants = docs.filter(col("doc_id") < 10)
      .withColumn("doc_id", col("doc_id") + 300000)
      .withColumn("text", concat(col("text"), lit(" paraphrased tail")))
    val corpus = docs.filter(col("doc_id") >= 10).unionByName(plants)
    val bench = docs.filter(col("doc_id") < 10)
    val rows = Dedup.contaminatedDocs(corpus, bench).collect()
    val flagged = rows.map(_.getAs[Long]("corpus_id")).toSet
    assert((0 until 10).forall(i => flagged(300000L + i)),
      s"all paraphrased plants must be flagged; got ${flagged.toSeq.sorted}")
    // each plant's first_bench is its source benchmark doc (min id wins)
    val first = rows.filter(_.getAs[Long]("corpus_id") >= 300000L)
      .map(r => r.getAs[Long]("corpus_id") - 300000L -> r.getAs[Long]("first_bench"))
    assert(first.forall { case (src, fb) => fb <= src })
  }

  test("semDedup schedule clamps and the auto form replays it exactly") {
    assert(Similarity.semDedupSchedule(0) == 4)
    assert(Similarity.semDedupSchedule(200) == 4)
    assert(Similarity.semDedupSchedule(2000) == 16)
    assert(Similarity.semDedupSchedule(20000) == 160)
    assert(Similarity.semDedupSchedule(100000000L) == 1024)
    val auto = Similarity.semanticDedupAuto(embs, 0.45).collect().toSeq
    val manual = Similarity.semanticDedup(embs, 0.45,
      nlist = Similarity.semDedupSchedule(embs.count())).collect().toSeq
    assert(auto == manual && auto.nonEmpty)
  }

  test("semantic dedup drops a planted exact-duplicate embedding") {
    // a verbatim copy of vec 0 under a new id has cos 1.0 with its
    // source and lands in the same k-means cell (identical q vector,
    // same argmin), so SemDeDup must drop exactly one more vector than
    // it drops on the unplanted corpus — and totals must account for
    // every vector
    val plant = embs.filter(col("vec_id") === 0L)
      .withColumn("vec_id", lit(999999L))
    val base = Similarity.semanticDedup(embs, threshold = 0.45)
    val withPlant = Similarity.semanticDedup(embs.unionByName(plant), threshold = 0.45)
    def totals(df: DataFrame): (Long, Long) = {
      val r = df.agg(sum("n_vecs"), sum("n_dropped")).head()
      (r.getLong(0), r.getLong(1))
    }
    val (nb, db) = totals(base)
    val (np, dp) = totals(withPlant)
    assert(nb == embs.count())
    assert(np == nb + 1)
    assert(dp == db + 1, "the planted duplicate must be dropped")
    // an impossible threshold drops nothing
    val none = Similarity.semanticDedup(embs, threshold = 1.5)
    assert(totals(none)._2 == 0L)
    // fixed-point training makes the whole readout reproducible
    assert(base.collect().toSeq ==
      Similarity.semanticDedup(embs, threshold = 0.45).collect().toSeq)
  }

  test("bigram surprisal scores are sane inverse probabilities") {
    val out = graft.api.Queries.registry("text_bigram_surprisal")
      .fn(spark, dir).collect()
    assert(out.nonEmpty && out.length <= 20)
    // mean inverse conditional probability is >= 1 by construction
    // (n(w1) >= n(w1,w2)), and the readout is sorted most-surprising
    // first with doc_id breaking ties
    val means = out.map(_.getAs[Long]("mean_inv_p_x1e6"))
    assert(means.forall(_ >= 1000000L))
    assert(means.sameElements(means.sortBy(-_)))
  }

  test("weighted sample is rank-consistent and oversamples heavy docs") {
    val d01 = "/root/testdata/sf0.01"
    val out = graft.api.Queries.registry("pipeline_weighted_sample")
      .fn(spark, d01).collect()
    assert(out.length == 50)
    assert(out.map(_.getAs[Long]("rnk")).toSeq == (1L to 50L))
    val pris = out.map(_.getAs[Long]("pri"))
    assert(pris.zip(pris.tail).forall { case (a, b) => a <= b })
    // priority u/w favors heavy docs: the 10% sample selected by char
    // mass must have a higher mean length than the corpus (deterministic
    // given the md5 family — not a statistical flake)
    val corpusMean = spark.read.parquet(s"$d01/documents.parquet")
      .agg(avg("n_chars")).head().getDouble(0)
    val sampleMean = out.map(_.getAs[Long]("w")).sum.toDouble / out.length
    assert(sampleMean > corpusMean,
      s"weighted sample mean $sampleMean should exceed corpus mean $corpusMean")
  }

  test("approx sketch aggregates land within error bounds of exact") {
    val d = dir
    val approx = graft.api.Queries.registry("agg_approx_stats").fn(spark, d)
      .collect().map(r => r.getAs[String]("l_returnflag") ->
        ((r.getAs[Long]("est_x1e3"), r.getAs[Long]("m_used"),
          r.getAs[Long]("p50_grid_c")))).toMap
    val exact = graft.api.Tables.lineitem(spark, d)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("nd"),
        expr("percentile(l_extendedprice, 0.5)").as("p50"))
      .collect().map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Long]("nd"), r.getAs[Double]("p50"))).toMap
    val m = graft.ops.Hll.M.toDouble
    exact.foreach { case (flag, (nd, p50)) =>
      val (estX1e3, mUsed, p50c) = approx(flag)
      // reader-side small-range correction (the sketch deliberately
      // emits the raw estimate + register counts and leaves the
      // linear-counting branch to the consumer): est < 2.5m and free
      // registers remain → m·ln(m/V)
      val vZero = m - mUsed
      val raw = estX1e3 / 1000.0
      val ndA = if (raw < 2.5 * m && vZero > 0) m * math.log(m / vZero) else raw
      assert(math.abs(ndA - nd) / nd <= 0.05,
        s"$flag: HLL distinct $ndA vs exact $nd drifts > 5%")
      val p50A = p50c / 100.0
      assert(math.abs(p50A - p50) / p50 <= 0.05,
        s"$flag: grid p50 $p50A vs exact $p50 drifts > 5%")
    }
  }

  test("sketch winsorize thresholds track the exact rank selection") {
    val d = dir
    def byType(name: String): Map[String, (Long, Long, Long)] =
      graft.api.Queries.registry(name).fn(spark, d).collect()
        .map(r => r.getAs[String]("event_type") ->
          ((r.getAs[Long]("lo_c"), r.getAs[Long]("hi_c"),
            r.getAs[Long]("mean_clipped_c")))).toMap
    val exact = byType("events_value_winsorize")
    val approx = byType("events_value_winsorize_fast")
    exact.foreach { case (t, (lo, hi, mean)) =>
      val (loA, hiA, meanA) = approx(t)
      // thresholds within 5% of the value RANGE (rank error translates
      // to value error through the local density; the tails are sparse,
      // so threshold drift is bounded by a range fraction, not a
      // relative one — lo_c can legitimately sit near 0)
      val range = math.max(hi - lo, 1L).toDouble
      assert(math.abs(loA - lo) / range <= 0.05,
        s"$t: sketch lo $loA vs exact $lo drifts > 5% of range")
      assert(math.abs(hiA - hi) / range <= 0.05,
        s"$t: sketch hi $hiA vs exact $hi drifts > 5% of range")
      // the clipped mean is threshold-insensitive — 1% relative
      assert(math.abs(meanA - mean).toDouble / mean <= 0.01,
        s"$t: sketch clipped mean $meanA vs exact $mean drifts > 1%")
    }
  }

  test("shard budget yields contiguous shards balanced within one doc") {
    val rows = graft.api.Queries.registry("pipeline_shard_budget")
      .fn(spark, dir).collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens")))
    val shards = rows.map(_._1)
    assert(shards.sameElements(shards.sorted), "shards not ordered")
    assert(shards.distinct.length == shards.length, "duplicate shard ids")
    assert(shards.max < 8, s"shard id past S-1: ${shards.max}")
    val total = rows.map(_._3).sum
    val budget = (total + 7) / 8
    // each shard's token mass stays within one straddling doc of the
    // budget: cum_before-based assignment can overshoot only by the
    // last doc's length, and every doc here is far under the budget
    val maxDoc = graft.api.Tables.documents(spark, dir)
      .select(org.apache.spark.sql.functions.max(
        graft.ops.TextOps.tokenCount(
          org.apache.spark.sql.functions.col("text")).cast("long")))
      .head().getLong(0)
    rows.foreach { case (sid, _, tok) =>
      assert(tok <= budget + maxDoc,
        s"shard $sid overshoots budget+maxDoc: $tok > $budget + $maxDoc")
    }
  }

  test("deflate ratio orders repetitive < natural-ish < high-entropy text") {
    import spark.implicits._
    // three same-length payloads: pure repetition, varied-vocabulary
    // prose-ish text, and md5-hex high-entropy noise (deterministic)
    val rep = "the cat sat on the mat " * 200
    val nat = (0 until 700).map(i => s"w${i % 331}x${(i * 7) % 97}").mkString(" ")
    val hex = (0 until 144).map(i =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"noise$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString).mkString
    val df = Seq(("rep", rep), ("nat", nat), ("hex", hex)).toDF("k", "text")
      .select(col("k"),
        (graft.functions.DeflateSizeExpr(col("text")) * 1000000L /
          octet_length(col("text"))).cast("long").as("r"))
    val m = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("rep") < m("nat") && m("nat") < m("hex"),
      s"ordering violated: $m")
    assert(m.values.forall(r => r > 0 && r < 1200000),
      s"ratio out of (0, 1.2] band: $m")
    // codegen path (the collect above) agrees with the direct helper
    val viaDf = Seq(Tuple1(rep)).toDF("text")
      .select(graft.functions.DeflateSizeExpr(col("text")).as("z"))
      .head().getLong(0)
    assert(viaDf == graft.functions.DeflateUtil.compressedSize(rep.getBytes("UTF-8")))
  }

  test("bpe token estimate splits long words into pieces") {
    import spark.implicits._
    val df = Seq((1L, "internationalization"), (2L, "a b"), (3L, "x9!")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      graft.ops.TextOps.bpeTokenCount(col("text")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out(1L) == 5) // ceil(20/4)
    assert(out(2L) == 2)
    assert(out(3L) == 3) // "x", "9", "!"
  }

  test("LSH ANN recall vs brute force is substantial") {
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val exact = Similarity.bruteForceTopK(embs, qids, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val approx = Similarity.lshTopK(embs, qids, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"LSH recall $recall too low")
    // and the candidate set must actually be pruned (approx ⊂ all pairs)
    assert(approx.size <= exact.size * 2)
  }

  test("multi-probe LSH at 4 tables recalls at least single-probe at 4 tables") {
    // the operator's claim: probing the 2 nearest-hyperplane neighbor
    // buckets buys back recall lost by halving the tables. With the
    // same 4 tables, the multi-probe candidate set is a strict superset
    // of single-probe's, so per-query hits can only grow; check the
    // measured recall confirms it (and that probes actually add pairs)
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val exact = hits(Similarity.bruteForceTopK(embs, qids, k = 5))
    val single = hits(Similarity.lshTopK(embs, qids, k = 5, tables = 4))
    val multi = hits(Similarity.lshMultiProbeTopK(embs, qids, k = 5, tables = 4))
    val rs = exact.intersect(single).size.toDouble / exact.size
    val rm = exact.intersect(multi).size.toDouble / exact.size
    assert(rm >= rs, s"multi-probe recall $rm below single-probe $rs")
    assert(rm >= 0.3, s"multi-probe recall $rm too low")
  }

  test("multimodal decode stub is deterministic and partition-invariant") {
    val assets = Multimodal.assetsFromDocuments(docs)
    val f1 = Multimodal.decodeStub(assets).collect().sortBy(_.asset_id)
    val f2 = Multimodal.decodeStub(assets.repartition(7)).collect().sortBy(_.asset_id)
    assert(f1.length == 500)
    assert(f1.zip(f2).forall { case (a, b) =>
      a.asset_id == b.asset_id && a.n_bytes == b.n_bytes &&
        a.mean_byte == b.mean_byte && a.features.sameElements(b.features)
    })
    // histogram is a distribution
    assert(f1.forall(f => math.abs(f.features.sum - 1.0) < 1e-9))
  }

  test("rolling hash: ASCII projection pins non-ASCII; value matches hand computation") {
    import spark.implicits._
    val df = Seq((1L, "a b"), (2L, "aΩ b")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), graft.ops.TextOps.rollingHash(col("text")).as("rh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def rh(s: String): Long = s.foldLeft(0L)((h, c) => (h * 31 + c.toLong) % 1099511627776L)
    assert(out(1L) == rh("a b"))
    assert(out(2L) == rh("a? b")) // lower('Ω')='ω' → non-ASCII → '?'
  }

  test("session_window MERGES at exactly the gap boundary (oracle uses > gap)") {
    // Pins the boundary semantics the events_session_stats oracle
    // encodes: an event exactly `gap` seconds after the previous one
    // CONTINUES the session (Spark merges when next.start <= window.end),
    // so the SQL rewrite must split on strictly-greater gaps.
    import spark.implicits._
    val ev = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:30:00")), // exactly 1800s later
      (1L, java.sql.Timestamp.valueOf("2024-01-01 01:30:01")) // > 1800s later
    ).toDF("user_id", "ts")
    val n = ev.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .count().count()
    assert(n == 2)
  }

  test("duplicate clusters: transitive closure, min-id canonical labels") {
    import spark.implicits._
    // chain 1-2-3-7 plus an isolated pair; pairwise keep-min would
    // retain 3 of the 4 chain members — cluster resolution keeps one
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 7L), (10L, 11L)).toDF("a", "b")
    val out = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("canonical_id")).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("duplicate clusters over planted minhash pairs: plant joins its base's cluster") {
    val labels = Dedup.duplicateClusters(
        Dedup.minhashPairs(planted(exact = false), k = 8, bands = 4))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("canonical_id")).toMap
    // every clustered doc's canonical is a cluster member <= itself...
    assert(labels.forall { case (id, c) => c <= id && labels(c) == c })
    // ...and >= 18/20 plants landed in the same cluster as their base
    // (same recall bound as the pair-level minhash test)
    val joined = (0L until 20L).count { i =>
      labels.get(i + 100000).exists(c => labels.get(i).contains(c))
    }
    assert(joined >= 18, s"only $joined/20 plants clustered with their base")
  }

  test("bm25: rare-term tf ranks first; hand-checked Okapi score") {
    import spark.implicits._
    val tiny = Seq(
      (0L, "apple banana banana"),
      (1L, "banana banana banana"),
      (2L, "apple apple banana"),
      (3L, "cherry cherry cherry")).toDF("doc_id", "text")
    val out = TextOps.bm25TopK(tiny, Seq("apple"), k = 4).collect()
    // only the two 'apple' docs score; tf=2 outranks tf=1 at equal dl
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(2L, 0L))
    // doc 0 by hand: tf=1, dl=avgdl=3, N=4, df=2 →
    // idf = ln((4-2+0.5)/(2+0.5)+1) = ln 2; num = 1·2.2, den = 1+1.2·1
    val s0 = out.find(_.getAs[Long]("doc_id") == 0L).get.getAs[Double]("bm25")
    assert(math.abs(s0 - math.log(2.0)) < 1e-6)
  }

  test("tfidf top terms: rare term outranks ubiquitous term (idf 0)") {
    import spark.implicits._
    val tiny = Seq(
      (0L, "common rare common"),
      (1L, "common other"),
      (2L, "common third")).toDF("doc_id", "text")
    val out = TextOps.tfidfTopTerms(tiny, maxDocId = 1L, perDoc = 2).collect()
      .sortBy(_.getAs[Int]("rnk"))
    assert(out.length == 2)
    assert(out.head.getAs[String]("w") == "rare") // df=1 → ln 3
    // 'common' appears in every doc → ln(3/3) = 0 despite tf=2
    assert(out(1).getAs[String]("w") == "common")
    assert(out(1).getAs[Double]("tfidf") == 0.0)
  }

  test("bounded top-k aggregator matches the window top-k row for row") {
    import graft.api.{Queries, Tables}
    val viaAgg = Queries.registry("window_topk_per_customer_agg").fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val viaWindow = Queries.registry("window_topk_per_customer").fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(viaAgg.nonEmpty && viaAgg == viaWindow)
    // and the comparator is row-order-invariant: a shuffled input gives
    // the same answer (partition-layout determinism)
    val shuffled = Tables.orders(spark, dir).repartition(7)
      .groupBy("o_custkey")
      .agg(graft.functions.TopKAggregator.topk(
        col("o_orderkey"), col("o_totalprice").cast("double"), 3).as("top"))
      .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "o_orderkey")))
      .select(col("o_custkey"), col("o_orderkey"), (col("pos") + 1).cast("int").as("rn"))
      .orderBy("o_custkey", "rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(shuffled == viaWindow)
  }

  test("pii scrub: detects and redacts each family; clean docs pass through") {
    import spark.implicits._
    val df = Seq(
      (1L, "reach me at a.b+c@mail-host.org or +44 123-456-7890 from 192.168.0.1"),
      (2L, "no pii here just words")).toDF("doc_id", "text")
    val out = TextOps.piiScrub(df).collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_emails") == 1)
    assert(out(1L).getAs[Long]("n_phones") == 1)
    assert(out(1L).getAs[Long]("n_ips") == 1)
    assert(out(2L).getAs[Long]("n_emails") == 0 &&
      out(2L).getAs[Long]("n_phones") == 0 && out(2L).getAs[Long]("n_ips") == 0)
    // a clean doc's redacted fingerprint is the raw text fingerprint
    val fp2 = df.filter(col("doc_id") === 2).select(md5(col("text"))).collect()(0).getString(0)
    assert(out(2L).getAs[String]("redacted_fp") == fp2)
    // the PII doc's redaction really removed the spans
    val redacted = df.filter(col("doc_id") === 1).select(
      regexp_replace(regexp_replace(regexp_replace(col("text"),
        TextOps.emailRe, "[EMAIL]"), TextOps.ipRe, "[IP]"),
        TextOps.phoneRe, "[PHONE]")).collect()(0).getString(0)
    assert(redacted.contains("[EMAIL]") && redacted.contains("[PHONE]") &&
      redacted.contains("[IP]") && !redacted.contains("@"))
  }

  test("fused pii scanner: row-identical to the built-in chain; plan carries exactly one scan call") {
    import spark.implicits._
    // adversarial shapes: IP-alike inside an email domain (consumed by
    // the email REDACTION but still COUNTED as an ip on the original —
    // the count-on-original contract), adjacent matches, empty text,
    // multiple of one family
    val df = (Seq(
      (1L, "x 10.1.2.3 y u@h10.1.2.3x.com z"),
      (2L, "a@b.co c@d.org +123 456-7890 999 888-7777 1.2.3.4 5.6.7.8"),
      (3L, ""),
      (4L, "plain words only")).toDF("doc_id", "text"))
      .unionByName(docs.select(col("doc_id") + 1000, col("text")).limit(200)
        .toDF("doc_id", "text"))
    def key(out: org.apache.spark.sql.DataFrame) = out.collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_emails"), r.getAs[Long]("n_ips"),
        r.getAs[Long]("n_phones"), r.getAs[String]("redacted_fp"))).toSet
    val fused = key(TextOps.piiScrub(df))
    val builtin = key(TextOps.piiScrubBuiltin(df))
    assert(fused == builtin,
      s"fused scanner diverges: fused-only=${(fused -- builtin).take(3)} " +
        s"builtin-only=${(builtin -- fused).take(3)}")
    // the struct must be evaluated ONCE per row: a CollapseProject
    // re-inline would put 4 graft_pii_scan calls in the plan (the
    // compressibility-proxy failure mode, here for a struct alias)
    val plan = TextOps.piiScrub(df).queryExecution.executedPlan.toString
    val calls = "graft_pii_scan".r.findAllIn(plan).size
    assert(calls == 1, s"expected exactly 1 graft_pii_scan in the plan, got $calls:\n$plan")
  }

  test("property: bounded top-k equals sort-take on random grouped data") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    (1 to 8).foreach { round =>
      val n = 50 + rnd.nextInt(150)
      val rows = Seq.fill(n)((rnd.nextInt(10).toLong, rnd.nextInt(2000).toLong,
        math.floor(rnd.nextDouble() * 1000) / 10.0))
      val got = rows.toDF("g", "id", "k")
        .groupBy("g")
        .agg(graft.functions.TopKAggregator.topk(col("id"), col("k"), 3).as("top"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        g -> rs.map(t => (t._3, t._2)).sortBy { case (k, id) => (-k, id) }
          .take(3).map(_._2).toList
      }
      assert(got == want, s"round $round: $got != $want")
    }
  }

  test("property: duplicateClusters labels equal union-find components") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (1 to 4).foreach { round =>
      val edges = Seq.fill(40)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter(e => e._1 != e._2)
      val got = Dedup.duplicateClusters(edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
      }
      val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .groupBy(find).flatMap { case (_, ns) => val m = ns.min; ns.map(_ -> m) }
      assert(got == want.toMap, s"round $round")
    }
  }

  test("text ops: langid hits the dominant profile; fingerprint collapses whitespace") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat and the dog is in a tree of it"),
      (2L, "el que la de un en y la el que"),
      (3L, "zzz qqq www"),
      (4L, "Hello   World"),
      (5L, "hello world")
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), TextOps.langId(col("text")).as("l"),
      TextOps.fingerprint(col("text")).as("fp")).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[String]("l"), r.getAs[String]("fp"))).toMap
    assert(out(1L)._1 == "en")
    assert(out(2L)._1 == "es")
    assert(out(3L)._1 == "und")
    assert(out(4L)._2 == out(5L)._2, "fingerprint must normalize case+whitespace")
  }

  test("markov transitions: rows are a probability matrix (per-source p sums to ~1e6)") {
    val rows = api.Queries.registry("events_markov_transitions")
      .fn(spark, dir).collect()
    assert(rows.nonEmpty)
    val bySrc = rows.groupBy(_.getAs[String]("event_type"))
    bySrc.foreach { case (src, rs) =>
      val pSum = rs.map(_.getAs[Long]("p_x1e6")).sum
      // floor() loses < 1 per destination row
      assert(pSum <= 1000000L && pSum > 1000000L - rs.length,
        s"$src: p sums to $pSum over ${rs.length} rows")
    }
  }

  test("chunk windows: every doc fully covered, windows in (0, size]") {
    val rows = api.Queries.registry("text_chunk_windows").fn(spark, dir).collect()
    assert(rows.forall { r =>
      val t = r.getAs[Long]("chunk_tokens"); t > 0 && t <= 32
    })
    // the furthest window must end exactly at the doc's token count
    val nTok = docs.select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n")).toMap
    val maxEnd = rows.groupBy(_.getAs[Long]("doc_id")).map { case (id, rs) =>
      id -> rs.map(r => r.getAs[Long]("chunk_idx") * 24 + r.getAs[Long]("chunk_tokens")).max
    }
    assert(maxEnd == nTok.filter { case (_, n) => n > 0 })
    // the fixture must actually exercise multi-chunk docs
    assert(rows.exists(_.getAs[Long]("chunk_idx") > 0), "no doc split into >1 chunk")
  }

  test("bigram topk: hand-built corpus yields the expected pair and conditional p") {
    import spark.implicits._
    val tiny = Seq((0L, "a b a b c"), (1L, "a b")).toDF("doc_id", "text")
    // bigrams: (a,b)x3 via docs 0+1, (b,a)x1, (b,c)x1
    val toks = tiny.select(expr(
        "filter(split(lower(text), '\\\\s+'), t -> t != '')").as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(explode(expr(
        "transform(slice(tk, 1, size(tk) - 1), (w, i) -> struct(w AS w1, tk[i + 1] AS w2))")).as("b"))
      .select(col("b.w1"), col("b.w2")).groupBy("w1", "w2").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("count")).toMap
    assert(toks == Map(("a", "b") -> 3L, ("b", "a") -> 1L, ("b", "c") -> 1L))
    // and the declared query runs with sane conditionals
    val rows = api.Queries.registry("text_bigram_topk").fn(spark, dir).collect()
    assert(rows.length == 50)
    assert(rows.forall(r => r.getAs[Long]("p_x1e6") > 0 && r.getAs[Long]("p_x1e6") <= 1000000L))
    val ns = rows.map(_.getAs[Long]("n"))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b }, "not sorted by n desc")
  }

  test("quantize error: bounded by one quantization step, labels distinct") {
    val real = api.Queries.registry("emb_quantize_error").fn(spark, dir).collect()
    assert(real.nonEmpty)
    // error is in fixed-point 1e6 units; one quantization step is
    // smax/127 ≤ max|x|·1e6/127 — embeddings are unit-ish, so < 16000
    assert(real.forall { r =>
      val e = r.getAs[Long]("mean_abs_err_x1e6"); e >= 0 && e < 16000
    })
    val labels = real.map(_.getAs[Long]("label"))
    assert(labels.distinct.length == labels.length)
  }

  test("multimodal dedup: exactly the planted payload copies, canonical original") {
    val rows = api.Queries.registry("multimodal_dedup").fn(spark, dir).collect()
    assert(rows.length == 50)
    assert(rows.forall(_.getAs[Long]("n_assets") == 2L))
    assert(rows.forall(_.getAs[Long]("canonical_id") < 50))
  }

  test("knn classify: one prediction per query, votes within k, majority is argmax") {
    val rows = api.Queries.registry("sim_knn_classify").fn(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("query_id")).toSeq == (0L until 10L))
    assert(rows.forall { r =>
      val v = r.getAs[Long]("votes"); v >= 1 && v <= 10
    })
  }

  test("dedup rate by source: planted dups fully attributed, rate consistent") {
    val rows = api.Queries.registry("dedup_rate_by_source").fn(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("n_dups")).sum == 50,
      "every planted copy must count as a duplicate exactly once")
    rows.foreach { r =>
      val expect = r.getAs[Long]("n_dups") * 1000000L / r.getAs[Long]("n_docs")
      assert(r.getAs[Long]("dup_rate_x1e6") == expect)
    }
  }

  test("vocab growth: cumulative curve is monotone and ends at the total vocabulary") {
    val rows = api.Queries.registry("text_vocab_growth").fn(spark, dir).collect()
    val cums = rows.map(_.getAs[Long]("cum_vocab"))
    assert(cums.zip(cums.tail).forall { case (a, b) => a < b })
    assert(cums.last == api.Queries.registry("text_vocab_stats").fn(spark, dir)
      .collect().head.getAs[Long]("vocab"))
    assert(rows.map(_.getAs[Long]("new_terms")).sum == cums.last)
  }

  test("filter funnel: stage counts are monotone and end at the curation survivors") {
    val rows = api.Queries.registry("pipeline_filter_funnel").fn(spark, dir)
      .collect().map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_docs")).toMap
    assert(rows.keySet == Set("0_all", "1_lang_en", "2_quality", "3_dedup"))
    assert(rows("0_all") >= rows("1_lang_en"))
    assert(rows("1_lang_en") >= rows("2_quality"))
    assert(rows("2_quality") >= rows("3_dedup"))
    assert(rows("3_dedup") ==
      api.Queries.registry("pipeline_curation").fn(spark, dir).count())
  }

  test("shared frames: planted exact copies share frames with their parents") {
    val pairs = api.Queries.registry("multimodal_shared_frames").fn(spark, dir)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    // every planted copy shares ALL its frames with the parent; the hot-
    // frame cap may drop a doc built entirely of boilerplate chunks, so
    // allow a small miss margin
    val found = (0L until 50L).count(i => pairs((i, i + 100000)))
    assert(found >= 45, s"only $found/50 planted frame-sharing pairs found")
    assert(pairs.forall { case (a, b) => a < b })
  }

  test("epoch shuffle: deterministic order, distinct docs, sorted by the random key") {
    val rows = api.Queries.registry("pipeline_epoch_shuffle").fn(spark, dir).collect()
    assert(rows.length == math.min(100, docs.count()).toInt)
    val ids = rows.map(_.getAs[Long]("doc_id"))
    assert(ids.distinct.length == ids.length)
    val keys = rows.map(_.getAs[String]("rkey"))
    assert(keys.zip(keys.tail).forall { case (a, b) => a <= b }, "not sorted by rkey")
    // same seed → same order on a second run
    val again = api.Queries.registry("pipeline_epoch_shuffle").fn(spark, dir)
      .collect().map(_.getAs[Long]("doc_id"))
    assert(again.toSeq == ids.toSeq)
  }

  test("source divergence: one top term per source, over-represented vs corpus") {
    val rows = api.Queries.registry("text_source_divergence").fn(spark, dir).collect()
    val nSources = docs.select("source").distinct().count()
    assert(rows.length == nSources)
    // a source's TOP term is over-represented unless the source exactly
    // matches the corpus distribution (impossible on this fixture)
    assert(rows.forall(_.getAs[Long]("ratio_x1e6") > 1000000L))
  }

  test("band eval: hits bounded by both sides, high recall on the planted corpus") {
    val r = api.Queries.registry("dedup_band_eval").fn(spark, dir).collect().head
    val (nT, nC, nH) = (r.getAs[Long]("n_true"), r.getAs[Long]("n_cand"), r.getAs[Long]("n_hit"))
    assert(nH <= math.min(nT, nC))
    assert(r.getAs[Long]("recall_x1e4") >= 9000,
      s"banded recall ${r.getAs[Long]("recall_x1e4")} < 0.9 on near-identical plants")
    assert(r.getAs[Long]("precision_x1e4") <= 10000)
  }

  test("pack efficiency: histogram masses equal the pack count, means inside buckets") {
    val rows = api.Queries.registry("pipeline_pack_efficiency").fn(spark, dir).collect()
    val nSeqs = api.Queries.registry("pipeline_pack_sequences").fn(spark, dir).count()
    assert(rows.map(_.getAs[Long]("n_seqs")).sum == nSeqs)
    rows.foreach { r =>
      val b = r.getAs[Long]("fill_bucket"); val m = r.getAs[Long]("mean_tokens")
      assert(m >= b * 4096 / 10 && m < (b + 1) * 4096 / 10.0 + 1, s"bucket $b mean $m")
    }
  }

  test("bfs profile: layered star schema yields exactly depths 1-3, widening frontiers") {
    val rows = api.Queries.registry("graph_bfs_profile").fn(spark, dir).collect()
      .map(r => r.getAs[Long]("depth") -> r.getAs[Long]("n_nodes")).toMap
    assert(rows.keySet == Set(1L, 2L, 3L))
    assert(rows(1L) < rows(2L) && rows(2L) < rows(3L),
      s"star schema frontier should widen each hop: $rows")
  }

  test("jaccard histogram: mass balance with the candidate set and the gate query") {
    val rows = api.Queries.registry("dedup_jaccard_histogram").fn(spark, dir).collect()
    val total = rows.map(_.getAs[Long]("n_pairs")).sum
    // same corpus the registry query plants (doc_id < 50, tail-perturbed)
    val p0 = docs.filter(col("doc_id") < 50)
      .withColumn("doc_id", col("doc_id") + 100000)
      .withColumn("text", concat(col("text"), lit(" planted dup tail")))
    val corpus = docs.unionByName(p0)
    assert(total == Dedup.ngramJaccardPairs(corpus, threshold = 0.0).count())
    val above = rows.filter(_.getAs[Long]("j_bucket") >= 5).map(_.getAs[Long]("n_pairs")).sum
    assert(above == api.Queries.registry("dedup_ngram_jaccard").fn(spark, dir).count())
  }

  test("cooccurrence: ordered pairs, support bounded by singles, positive lift") {
    val evDir = dir
    val rows = api.Queries.registry("events_cooccurrence").fn(spark, evDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[String]("ta") < r.getAs[String]("tb")))
    assert(rows.forall(_.getAs[Long]("lift_x1e6") > 0))
  }

  test("stopword coverage: fraction well-formed, totals consistent") {
    val r = api.Queries.registry("text_stopword_coverage").fn(spark, dir).collect().head
    assert(r.getAs[Long]("top_tf") <= r.getAs[Long]("total_tf"))
    val c = r.getAs[Long]("coverage_x1e6")
    assert(c > 0 && c <= 1000000L)
    assert(c == r.getAs[Long]("top_tf") * 1000000L / r.getAs[Long]("total_tf"))
  }

  test("cluster tightness: one row per label, strictly positive spread") {
    val rows = api.Queries.registry("emb_cluster_tightness").fn(spark, dir).collect()
    val labels = rows.map(_.getAs[Long]("label"))
    assert(labels.distinct.length == labels.length)
    assert(rows.forall(_.getAs[Long]("mean_l1_x1e6") > 0),
      "labels with zero spread would mean degenerate fixture vectors")
  }

  test("degree distribution: mass balance against the triples view") {
    val rows = api.Queries.registry("graph_degree_distribution").fn(spark, dir).collect()
    val mass = rows.map(r => r.getAs[Long]("deg") * r.getAs[Long]("n_nodes")).sum
    assert(mass == api.Tables.starTriples(spark, dir).count())
  }

  test("curriculum stages: mass balance, ordered boundaries, near-quartile sizes") {
    val rows = api.Queries.registry("pipeline_curriculum").fn(spark, dir).collect()
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total == docs.count(), "every doc must land in exactly one stage")
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, stages) =>
      val bySt = stages.sortBy(_.getAs[Long]("stage"))
      // stages are quality-ordered: each stage's max_q <= next stage's min_q
      bySt.sliding(2).foreach {
        case Array(lo, hi) =>
          assert(lo.getAs[Long]("max_q") <= hi.getAs[Long]("min_q"),
            s"$src: stage quality ranges overlap")
        case _ =>
      }
      // rank-selected quartiles: no stage may exceed half the source
      // (ties can unbalance, but not past the boundary-rank guarantee)
      val n = bySt.map(_.getAs[Long]("n_docs")).sum
      assert(bySt.forall(_.getAs[Long]("n_docs") <= (n + 1) / 2),
        s"$src: degenerate stage split ${bySt.map(_.getAs[Long]("n_docs")).toSeq}")
    }
  }

  test("linear probe: integer GD descends, weights move toward the label") {
    val curve = TextOps.linearProbe(docs, iters = 5).orderBy("iter").collect()
    val mses = curve.map(_.getAs[Long]("mse_x1e6")).toSeq
    // full-batch GD with eta = 0.25 < 2/lambda_max on [0,1] features
    // must descend every step at this distance from convergence
    mses.sliding(2).foreach {
      case Seq(a, b) => assert(b < a, s"MSE did not descend: $mses")
      case _ =>
    }
    // the stopword feature and bias must carry positive weight (the
    // probe predicts "is English" and the corpus is majority en)
    val last = curve.last
    assert(last.getAs[Long]("w3") > 0 && last.getAs[Long]("w4") > 0)
  }

  test("cohort matrix: offset-0 mass equals the user universe, no negative offsets") {
    val rows = api.Queries.registry("events_cohort_matrix").fn(spark, dir).collect()
    assert(rows.forall(_.getAs[Long]("offset_weeks") >= 0L))
    val users = spark.read.parquet(s"$dir/events.parquet")
      .select("user_id").distinct.count()
    val diag = rows.filter(_.getAs[Long]("offset_weeks") == 0L)
      .map(_.getAs[Long]("n_users")).sum
    assert(diag == users, "every user belongs to exactly one cohort's offset-0 cell")
    // later cells can never exceed their cohort's offset-0 size
    val c0 = rows.filter(_.getAs[Long]("offset_weeks") == 0L)
      .map(r => r.getAs[String]("cohort") -> r.getAs[Long]("n_users")).toMap
    rows.foreach(r => assert(r.getAs[Long]("n_users") <= c0(r.getAs[String]("cohort"))))
  }

  test("cdc latest: one state per user, census masses the distinct-user count") {
    val rows = api.Queries.registry("events_cdc_latest").fn(spark, dir).collect()
    val users = spark.read.parquet(s"$dir/events.parquet")
      .select("user_id").distinct.count()
    assert(rows.map(_.getAs[Long]("n_users")).sum == users,
      "every user must surface exactly one latest state")
  }

  test("mad anomalies: breakdown robustness — flags survive a planted extreme tail") {
    import spark.implicits._
    // 98 ordinary values + 2 extremes per type: the median/MAD of the
    // 98 must barely move (robust), and exactly the 2 extremes flag.
    // A mean/stddev detector would have its threshold dragged by the
    // tail; 5·MAD must not be.
    val rows = (0 until 98).map(i => ("t", 100.0 + (i % 7))) ++
      Seq(("t", 100000.0), ("t", -100000.0))
    val ev = rows.toDF("event_type", "value")
      .withColumn("event_id", monotonically_increasing_id())
      .withColumn("ts", current_timestamp())
      .withColumn("user_id", lit(1L)).withColumn("props", lit(""))
    val v = ev.select(col("event_type"), floor(col("value") * 100).cast("long").as("vc"))
    // run the declared pipeline shape directly on the crafted frame
    import org.apache.spark.sql.expressions.Window
    def rankMedian(in: org.apache.spark.sql.DataFrame, c: String, out: String) = in
      .withColumn("rn", row_number().over(Window.partitionBy("event_type").orderBy(c)))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .groupBy("event_type").agg(min(c).as(out))
    val med = rankMedian(v, "vc", "med_c")
    val dev = v.join(med, "event_type").withColumn("dev", abs(col("vc") - col("med_c")))
    val mad = rankMedian(dev.select("event_type", "dev"), "dev", "mad_c")
    val rep = dev.join(mad, "event_type")
      .groupBy("event_type")
      .agg(min("med_c").as("med_c"), min("mad_c").as("mad_c"),
        sum(when(col("dev") > col("mad_c") * 5, 1L).otherwise(0L)).as("n_anomalies"))
      .collect().head
    assert(rep.getAs[Long]("med_c") >= 10000L && rep.getAs[Long]("med_c") <= 10600L,
      "median dragged by the planted tail")
    assert(rep.getAs[Long]("n_anomalies") == 2L,
      s"expected exactly the 2 planted extremes, got ${rep.getAs[Long]("n_anomalies")}")
  }

  test("probe calibration: mass balance, bounded rates, means inside bins") {
    val rows = api.Queries.registry("text_probe_calibration").fn(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.count())
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      assert(r.getAs[Long]("n_en") <= r.getAs[Long]("n_docs"))
      // truncated mean of values in [25b, 25(b+1)) stays inside the bin
      // (clamp buckets 0/40 aside — unclamped on this corpus)
      if (b > 0 && b < 40) {
        val m = r.getAs[Long]("mean_p_milli")
        assert(m >= b * 25 && m < (b + 1) * 25, s"bucket $b mean $m outside bin")
      }
    }
  }

  test("epoch plan: epoch 1 holds every source, masses shrink, cum total consistent") {
    val rows = api.Queries.registry("pipeline_epoch_plan").fn(spark, dir)
      .orderBy("epoch").collect()
    assert(rows.head.getAs[Long]("epoch") == 1L)
    val nSources = docs.select("source").distinct.count()
    assert(rows.head.getAs[Long]("n_sources") == nSources,
      "every source must be seen in epoch 1")
    // repeat >= e is monotone: later epochs are subsets
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Long]("n_sources") <= a.getAs[Long]("n_sources"))
        assert(b.getAs[Long]("epoch_tokens") <= a.getAs[Long]("epoch_tokens"))
      case _ =>
    }
    val cum = rows.map(_.getAs[Long]("epoch_tokens")).scanLeft(0L)(_ + _).drop(1)
    assert(rows.map(_.getAs[Long]("cum_tokens")).toSeq == cum.toSeq)
  }

  test("ivfpq: ADC distances are true non-negative squared L2; usable recall vs exact") {
    val got = Similarity.ivfPqTopK(embs, queryIds = Seq(0L, 1L, 2L), k = 10).collect()
    assert(got.forall(_.getAs[Long]("adist") >= 0L),
      "ADC must be a true squared distance (score + |q|²), never negative")
    // driver-side exact fixed-point L2 ground truth on the fixture corpus
    val vecs = embs.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Double](1).map(x => math.floor(x * 1e6).toLong).toArray).toMap
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val recall = Seq(0L, 1L, 2L).map { q =>
      val exact = (vecs - q).toSeq
        .map { case (id, v) => (l2(vecs(q), v), id) }.sorted.take(10).map(_._2).toSet
      val approx = got.filter(_.getAs[Long]("query_id") == q)
        .map(_.getAs[Long]("vec_id")).toSet
      exact.intersect(approx).size
    }.sum / 30.0
    // i.i.d.-random fixture embeddings are PQ's WORST case (no cluster
    // structure for 4×8 codebooks to exploit); measured recall here is
    // ~0.23 vs ~0.05 for picking 10 at random from the probed cells.
    // The floor pins "far above random", not production recall — that
    // tuning readout is emb_pq_error's and sim_ann_recall's job.
    assert(recall >= 0.15, s"IVFPQ recall@10 collapsed: $recall")
  }

  test("pq error: zero when every vector is a codeword, shrinks with ksub") {
    val eight = embs.filter(col("vec_id") < 8)
    // ksub >= n: deterministic init makes every vector its own centroid,
    // assignment is exact, reconstruction error must be exactly 0
    val zero = Similarity.pqError(eight, m = 4, ksub = 8, iters = 2).collect()
    assert(zero.length == 4)
    assert(zero.forall(_.getAs[Long]("max_vec_err_x1e6") == 0L),
      "n <= ksub must reconstruct exactly")
    // a larger codebook can only tighten per-subspace mean error
    val e8 = Similarity.pqError(embs, m = 4, ksub = 8, iters = 2)
      .collect().map(r => r.getAs[Long]("subspace") -> r.getAs[Long]("mean_abs_err_x1e6")).toMap
    val e32 = Similarity.pqError(embs, m = 4, ksub = 32, iters = 2)
      .collect().map(r => r.getAs[Long]("subspace") -> r.getAs[Long]("mean_abs_err_x1e6")).toMap
    (0L until 4L).foreach { s =>
      assert(e32(s) <= e8(s), s"subspace $s: ksub=32 err ${e32(s)} > ksub=8 err ${e8(s)}")
    }
  }

  test("pq code dedup surfaces every planted scaled sibling at cos 1.0") {
    val rows = api.Queries.registry("dedup_pq_codes").fn(spark, dir).collect()
    val pairs = rows.map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    val expected = (0L until 10L).map(i => (i, 900000L + i)).toSet
    // a 0.99-scaled copy keeps its direction: all m subspace argmins
    // must agree with the original, and the verify sees cos = 1.0
    assert(expected.subsetOf(pairs), s"missing ${expected.diff(pairs)}")
    rows.filter(r => r.getAs[Long]("b") >= 900000L).foreach(r =>
      assert(r.getAs[Double]("cos") == 1.0))
  }

  test("bpe merges: hand-computed merge sequence on a crafted vocab") {
    import spark.implicits._
    // "abab" ×3: round 1 pairs are ab(×2/word), ba(×1/word) → merge "ab";
    // round 2 segments each word as [ab, ab] → the only pair is "abab".
    // "xy." normalizes to "xy" (alnum filter) and contributes pair xy=2
    // — fewer than ab's 6, so it never wins round 1.
    val docs = Seq((1L, "abab abab abab xy. xy,")).toDF("doc_id", "text")
    val m = TextOps.bpeMerges(docs, rounds = 2).orderBy("round").collect()
      .map(r => (r.getAs[Long]("round"), r.getAs[String]("pair"), r.getAs[Long]("cnt")))
    assert(m.toSeq == Seq((1L, "ab", 6L), (2L, "abab", 3L)), s"got ${m.toSeq}")
  }

  test("dedup funnel: monotone survivors, exact stage equals distinct fingerprints") {
    val rows = api.Queries.registry("pipeline_dedup_funnel").fn(spark, dir)
      .orderBy("stage").collect()
    assert(rows.map(_.getAs[String]("stage")).toSeq ==
      Seq("0_all", "1_exact", "2_minhash", "3_winnow"))
    val ns = rows.map(_.getAs[Long]("n_docs"))
    val ts = rows.map(_.getAs[Long]("n_tokens"))
    ns.sliding(2).foreach { case Array(a, b) => assert(b <= a); case _ => }
    ts.sliding(2).foreach { case Array(a, b) => assert(b <= a); case _ => }
    assert(ns.last > 0, "funnel must not annihilate the corpus")
    val distinctFp = docs.select(TextOps.fingerprint(col("text"))).distinct.count()
    assert(ns(1) == distinctFp, "exact stage must keep one doc per fingerprint")
  }

  test("bpe apply: every trained merge is used, usage bounded by raw adjacency") {
    val trained = TextOps.bpeMerges(docs, rounds = 5).collect()
      .map(r => r.getAs[String]("pair") -> r.getAs[Long]("cnt")).toMap
    val used = TextOps.bpeApply(docs, rounds = 5, k = 10).collect()
      .map(r => r.getAs[String]("sym") -> r.getAs[Long]("cnt")).toMap
    trained.keys.foreach(p =>
      assert(used.get(p).exists(_ > 0L), s"trained merge '$p' unused at apply time"))
    // the round-1 merge was counted over RAW character adjacencies — no
    // segmentation can make the symbol occur more often than that
    val first = TextOps.bpeMerges(docs, rounds = 1).collect().head
    assert(used(first.getAs[String]("pair")) <= first.getAs[Long]("cnt"))
  }

  test("winnowing guarantee: a shared n+w-1 token run fires, scattered tokens don't") {
    import spark.implicits._
    // C shares exactly the 6-token run a3..a8 with A (n+w-1 = 3+4-1 = 6,
    // the paper's guarantee threshold); B shares every OTHER token with
    // A — high token overlap but no common 3-gram, so zero shared
    // fingerprints. The guarantee makes (A,C) a MUST at minShared=1.
    val docs = Seq(
      (1L, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"),
      (2L, "a1 b2 a3 b4 a5 b6 a7 b8 a9 b10"),
      (3L, "c1 c2 a3 a4 a5 a6 a7 a8 c3 c4")).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(docs, minShared = 1L)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(pairs == Set((1L, 3L)), s"got $pairs")
  }

  test("winnow pairs surface the planted split-copy docs against BOTH parents") {
    // the dedup_winnow query's fixture, on the sf0.001 corpus: planted
    // doc 300000+i = first-30-tokens(i) ⧺ first-30-tokens(i+10) must
    // pair with i AND i+10 on local overlap alone (whole-doc Jaccard vs
    // either parent is low — MinHash banding has no reason to propose it)
    val pairs = api.Queries.registry("dedup_winnow").fn(spark, dir)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    val expected = (0L until 10L).flatMap(i =>
      Seq((i, 300000L + i), (i + 10L, 300000L + i))).toSet
    val missing = expected.diff(pairs)
    assert(missing.isEmpty, s"planted local-overlap pairs not found: $missing")
  }
}
