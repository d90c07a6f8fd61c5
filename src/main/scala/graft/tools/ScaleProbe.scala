package graft.tools

import org.apache.spark.sql.DataFrame

/** Ad-hoc operator-variant timing probe — the measurement harness
  * behind SCALE.md's "measured and kept/rejected" decisions. Unlike
  * Bench (which times the DECLARED query surface), ScaleProbe times
  * named operator variants side by side on an arbitrary corpus dir so
  * design alternatives can be compared at 10×/30× without declaring
  * them: `runMain graft.tools.ScaleProbe <sfDir> [probe,probe,...]`.
  * Prints one JSON line of min-of-2 seconds per probe, same timing
  * discipline as Bench (toRdd materialization; min of two back-to-back
  * runs to shed sandbox contention).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.LocalSession(defaultCpus = 32)

    // `gen-embs <outDir> <n> [planted]`: synthesize an embeddings table
    // past the LSH→PQ knee (the 100× table tops out at 200k vectors —
    // the knee sits at ~1.05e7, so the past-knee measured row needs its
    // own corpus, the round-10 splits-probe precedent). Deterministic
    // xxhash64 coordinates in [-1, 1] (seedless, replayable), `planted`
    // 0.99-scaled siblings at id+9e8 so the PQ branch has true
    // near-dups to find, schema identical to the driver table
    // (vec_id BIGINT, embedding ARRAY<FLOAT>, label INT), 32 output
    // files so row groups satisfy the zero-shuffle split law.
    if (sfDir == "gen-embs") {
      import org.apache.spark.sql.functions._
      val out = args(1); val n = args(2).toLong
      val planted = if (args.length > 3) args(3).toLong else 1000L
      val base = spark.range(n).select(col("id").as("vec_id"),
        expr("transform(sequence(0, 63), j -> " +
          "cast((pmod(xxhash64(id, j), 2000001) - 1000000) / 1000000.0 " +
          "as float))").as("embedding"),
        expr("cast(pmod(xxhash64(id), 10) as int)").as("label"))
      val sibs = base.filter(col("vec_id") < planted)
        .select((col("vec_id") + 900000000L).as("vec_id"),
          expr("transform(embedding, x -> cast(x * cast(0.99 as float) " +
            "as float))").as("embedding"),
          col("label"))
      base.unionByName(sibs).repartition(32)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      println(s"""{"gen":"embs","out":"$out","n":$n,"planted":$planted}""")
      spark.stop()
      return
    }

    def docs = graft.api.Tables.documents(spark, sfDir)
    def embs = graft.api.Tables.embeddings(spark, sfDir)
    // QueriesShared.plantedDocs (package-private) replicated for probes
    def plantedNearDocs: DataFrame = {
      import org.apache.spark.sql.functions._
      val base = docs
      val p0 = base.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 100000)
      base.unionByName(
        p0.withColumn("text", concat(col("text"), lit(" planted dup tail"))))
    }
    def scorecardLiAgg(ordersHint: Option[String]): DataFrame = {
      import org.apache.spark.sql.functions._
      val o = graft.api.Tables.orders(spark, sfDir)
        .select(col("o_orderkey").as("l_orderkey"),
          to_date(col("o_orderdate")).as("od"))
      val oh = ordersHint.map(o.hint(_)).getOrElse(o)
      graft.api.Tables.lineitem(spark, sfDir)
        .join(oh, "l_orderkey")
        .groupBy(col("l_suppkey").as("suppkey"))
        .agg(count(lit(1)).as("n_lines"),
          sum(expr("CAST(floor(l_extendedprice) AS BIGINT)")).as("rev"),
          sum(when(datediff(to_date(col("l_shipdate")), col("od")) <= 30, 1L)
            .otherwise(0L)).as("on_time"))
    }
    val probes: Seq[(String, () => DataFrame)] = Seq(
      "containment_direct" -> (() => graft.ops.Dedup.containmentPairs(docs)),
      "containment_sched" -> (() => graft.ops.Dedup.containmentPairsAuto(docs)),
      // fused codegen'd PII scanner vs the 6-expression built-in chain
      // it replaced (round-9): same rows (OpsSpec), cost is the measure
      "pii_fused" -> (() => graft.ops.TextOps.piiScrub(docs)),
      "pii_builtin" -> (() => graft.ops.TextOps.piiScrubBuiltin(docs)),
      "jaccard" -> (() => graft.ops.Dedup.ngramJaccardPairs(docs)),
      // pruned-verify variant: semi-filter the shingle frame to docs
      // that appear in ANY candidate pair before the intersection
      // joins — the verify then shuffles only candidate docs' shingles
      // instead of the whole corpus. Costs one extra evaluation of the
      // candidate subtree (for the id broadcast); wins when candidates
      // cover a small fraction of docs (the 100 TB regime), loses when
      // most docs are in some pair (planted sf0.1 fixture)
      "jaccard_pruned" -> (() => {
        import org.apache.spark.sql.functions._
        val sh = graft.ops.Dedup.shingleRows(docs, 3)
        val cand = graft.ops.Dedup.minhashPairsFromShingles(
          sh, 8, 4, graft.ops.Dedup.DefaultBandCap)
        val ids = cand.select(col("a").as("doc_id"))
          .union(cand.select(col("b").as("doc_id"))).distinct()
        val shc = sh.join(broadcast(ids), Seq("doc_id"), "left_semi")
        val sizes = shc.groupBy("doc_id").agg(count(lit(1)).as("sz"))
        val la = shc.select(col("doc_id").as("a"), col("sh"))
        val rb = shc.select(col("doc_id").as("b"), col("sh"))
        val inter = cand.join(la, "a").join(rb, Seq("b", "sh"))
          .groupBy("a", "b").agg(count(lit(1)).as("inter"))
        inter
          .join(sizes.withColumnRenamed("doc_id", "a")
            .withColumnRenamed("sz", "sza"), "a")
          .join(sizes.withColumnRenamed("doc_id", "b")
            .withColumnRenamed("sz", "szb"), "b")
          .withColumn("jaccard", round(col("inter").cast("double") /
            (col("sza") + col("szb") - col("inter")).cast("double"), 6))
          .filter(col("jaccard") >= 0.5)
          .select("a", "b", "jaccard")
      }),
      "minhash" -> (() => graft.ops.Dedup.minhashPairs(docs)),
      "embedding_fixed" -> (() =>
        graft.ops.Dedup.embeddingNearDups(embs, threshold = 0.45)),
      "embedding_sched" -> (() =>
        graft.ops.Dedup.embeddingNearDupsAuto(embs, threshold = 0.45)),
      // the past-knee candidate generator in isolation (what
      // embedding_sched routes to past lshOccupancyKnee), runnable at
      // ANY corpus size for the crossover trend
      "embedding_pq_direct" -> (() => {
        val (m, ksub) = graft.ops.Dedup.pqSchedule(embs.count())
        graft.ops.Similarity.pqCodeDups(embs, m, ksub, iters = 2,
          threshold = 0.45)
      }),
      // embedding cost decomposition: bucket computation alone, then the
      // compact candidate join without the cosine verify — full minus
      // cand isolates the verify (wide-row join + dot) share
      "embedding_bucket_only" -> (() => {
        import org.apache.spark.sql.functions._
        val (bits, tables) = graft.ops.Dedup.lshSchedule(embs.count())
        embs.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .select(col("vec_id"), posexplode(graft.functions.LshBuckets(col("v"), 64, bits, tables))
            .as(Seq("table", "bucket")))
      }),
      // shuffle-hash variant of the declared shape: forcing the bucket
      // self-join off broadcast gives both sides an identical
      // hashpartitioning(table, bucket) exchange, so ReuseExchange
      // evaluates the plane-dot subtree ONCE (the minhash band join
      // already gets this for free because its side frames are big
      // enough to shuffle)
      "embedding_sched_shuffle" -> (() => {
        import org.apache.spark.sql.functions._
        val (bits, tables) = graft.ops.Dedup.lshSchedule(embs.count())
        val v = embs
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .withColumn("nrm", graft.ops.Similarity.norm(col("v")))
        val bucketed = v.select(col("vec_id"), col("v"), col("nrm"),
          posexplode(graft.functions.LshBuckets(col("v"), 64, bits, tables))
            .as(Seq("table", "bucket")))
        val l = bucketed.select(col("table"), col("bucket"),
          col("vec_id").as("a"), col("v").as("va"), col("nrm").as("na"))
        val r = bucketed.select(col("table"), col("bucket"),
          col("vec_id").as("b"), col("v").as("vb"), col("nrm").as("nb"))
        l.hint("shuffle_hash").join(r.hint("shuffle_hash"), Seq("table", "bucket"))
          .filter(col("a") < col("b"))
          .withColumn("cos", round(
            graft.ops.Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
          .filter(col("cos") >= 0.45)
          .select("a", "b", "cos")
          .distinct()
      }),
      // distinct-first variant: compact (vec_id, table, bucket)
      // self-join → distinct pairs → attach vectors by key → verify.
      // Each unique pair is scored once (vs once per colliding table)
      // and no vector ever rides the (table, bucket) shuffle.
      "embedding_sched_v2" -> (() => {
        import org.apache.spark.sql.functions._
        val (bits, tables) = graft.ops.Dedup.lshSchedule(embs.count())
        val v = embs
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .withColumn("nrm", graft.ops.Similarity.norm(col("v")))
        val bucketed = v.select(col("vec_id"), posexplode(graft.functions.LshBuckets(col("v"), 64, bits, tables))
            .as(Seq("table", "bucket")))
        val pairs = bucketed.select(col("table"), col("bucket"), col("vec_id").as("a"))
          .join(bucketed.select(col("table"), col("bucket"), col("vec_id").as("b")),
            Seq("table", "bucket"))
          .filter(col("a") < col("b"))
          .select("a", "b").distinct()
        pairs
          .join(v.select(col("vec_id").as("a"), col("v").as("va"), col("nrm").as("na")), "a")
          .join(v.select(col("vec_id").as("b"), col("v").as("vb"), col("nrm").as("nb")), "b")
          .withColumn("cos", round(
            graft.ops.Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
          .filter(col("cos") >= 0.45)
          .select("a", "b", "cos")
      }),
      "embedding_join_nodistinct" -> (() => {
        import org.apache.spark.sql.functions._
        val (bits, tables) = graft.ops.Dedup.lshSchedule(embs.count())
        val bucketed = embs
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .select(col("vec_id"), posexplode(graft.functions.LshBuckets(col("v"), 64, bits, tables))
            .as(Seq("table", "bucket")))
        bucketed.select(col("table"), col("bucket"), col("vec_id").as("a"))
          .join(bucketed.select(col("table"), col("bucket"), col("vec_id").as("b")),
            Seq("table", "bucket"))
          .filter(col("a") < col("b"))
          .select("a", "b")
      }),
      "embedding_cand_only" -> (() => {
        import org.apache.spark.sql.functions._
        val (bits, tables) = graft.ops.Dedup.lshSchedule(embs.count())
        val bucketed = embs
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .select(col("vec_id"), posexplode(graft.functions.LshBuckets(col("v"), 64, bits, tables))
            .as(Seq("table", "bucket")))
        bucketed.select(col("table"), col("bucket"), col("vec_id").as("a"))
          .join(bucketed.select(col("table"), col("bucket"), col("vec_id").as("b")),
            Seq("table", "bucket"))
          .filter(col("a") < col("b"))
          .select("a", "b").distinct()
      }),
      // dedup_clusters decomposition: pair generation alone vs the full
      // pairs + connected-components resolution — the difference is the
      // min-label propagation rounds
      "clusters_pairs_only" -> (() => graft.ops.Dedup.minhashPairs(docs)),
      "clusters_full" -> (() =>
        graft.ops.Dedup.duplicateClusters(graft.ops.Dedup.minhashPairs(docs))),
      // fixed-point IVF at sim_ann_ivf_exact's params, and SemDeDup's
      // Lloyd trainer across nlist
      "ivf_driver" -> (() => graft.ops.Similarity.ivfFixedPointTopK(
        embs, queryIds = Seq(0L, 1L, 2L), k = 10)),
      "semdedup_n16_driver" -> (() => graft.ops.Similarity.semanticDedup(
        embs, 0.45, nlist = 16)),
      "semdedup_n64_driver" -> (() => graft.ops.Similarity.semanticDedup(
        embs, 0.45, nlist = 64)),
      "semdedup_n160_driver" -> (() => graft.ops.Similarity.semanticDedup(
        embs, 0.45, nlist = 160)),
      // canonical-dedup cost decomposition (dedup_canonical at 100×
      // reads ~13× dedup_exact on the same docs): the full operator,
      // the canonicalization projection alone, the fingerprint
      // projection alone, and a bare md5(lower) scan as the floor —
      // full − agg share, regex share = canon_only − scan_floor
      "canon_full" -> (() => graft.ops.Linkage.canonicalGroups(docs)),
      "canon_only" -> (() => {
        import org.apache.spark.sql.functions._
        docs.select(md5(graft.ops.Linkage.canonical(col("text"))).as("cfp"))
      }),
      "canon_fp_only" -> (() => {
        import org.apache.spark.sql.functions._
        docs.select(graft.ops.TextOps.fingerprint(col("text")).as("fp"))
      }),
      "canon_scan_floor" -> (() => {
        import org.apache.spark.sql.functions._
        docs.select(md5(lower(col("text"))).as("h"))
      }),
      // tokenizer cost at the primitive level: the declared regex split
      // vs a single-char split (same array materialization, no regex
      // NFA) — the delta bounds what a fused splitter could save per
      // tokens() consumer
      "tok_regex" -> (() => {
        import org.apache.spark.sql.functions._
        docs.select(graft.ops.TextOps.tokens(col("text")).as("t"))
      }),
      "tok_charsplit" -> (() => {
        import org.apache.spark.sql.functions._
        docs.select(split(lower(col("text")), " ").as("t"))
      }),
      // and the dominant composite consumer: the 3-gram shingle explode
      "tok_shingles" -> (() => graft.ops.Dedup.shingleRows(docs, 3)),
      // dedup_fuzzy_names decomposition: the query reads ~4.7 s FLAT at
      // every scale (distinct-name volume is structural), which prices
      // one of the driver-bench's heaviest sf0.1 rows at ~6 µs per
      // in-block pair — too slow for an 18×18 levenshtein. Stages:
      // the distinct-name agg, the block self-join WITHOUT the edit
      // distance, then with it (the delta is levenshtein's true share)
      "fuzzy_full" -> (() => graft.ops.Linkage.fuzzyNameSummary(
        graft.api.Tables.customer(spark, sfDir), "c_name")),
      "fuzzy_pairs" -> (() => graft.ops.Linkage.fuzzyNamePairs(
        graft.api.Tables.customer(spark, sfDir), "c_name")),
      "fuzzy_join_nolev" -> (() => {
        import org.apache.spark.sql.functions._
        val named = graft.api.Tables.customer(spark, sfDir)
          .groupBy(col("c_name").as("name")).agg(count(lit(1)).as("m"))
          .withColumn("block", expr("substring(name, 1, length(name) - 2)"))
        named.select(col("block"), col("name").as("name_a"), col("m").as("m_a"))
          .join(named.select(col("block"), col("name").as("name_b"), col("m").as("m_b")), "block")
          .filter(col("name_a") < col("name_b"))
      }),
      "fuzzy_names_only" -> (() => {
        import org.apache.spark.sql.functions._
        graft.api.Tables.customer(spark, sfDir)
          .groupBy(col("c_name").as("name")).agg(count(lit(1)).as("m"))
      }),
      // minhash stage decomposition at 100×: shingles (tok_shingles
      // above) → signature agg → banded keys + hot-band window → the
      // band self-join + distinct (the full minhash probe). Deltas
      // between consecutive stages price each step.
      "mh_sigs" -> (() => graft.ops.Dedup.minhashSignatures(docs, 8)),
      "mh_banded" -> (() => {
        val sigs = graft.ops.Dedup.minhashSignatures(docs, 8)
        graft.ops.Dedup.dropHotBands(
          graft.ops.Dedup.bandKeys(sigs, 8, 4), graft.ops.Dedup.DefaultBandCap)
      }),
      "mh_bandkeys_nowin" -> (() => graft.ops.Dedup.bandKeys(
        graft.ops.Dedup.minhashSignatures(docs, 8), 8, 4)),
      // md5 share of the signature agg: k=2 runs ONE digest per
      // shingle row where k=8 runs four — if sigs time tracks k, the
      // hash dominates; if not, the explode+shuffle does
      "mh_sigs_k2" -> (() => graft.ops.Dedup.minhashSignatures(docs, 2)),
      "mh_sigs_builtin" -> (() => graft.ops.Dedup.sigsFromShinglesBuiltin(
        graft.ops.Dedup.shingleRows(docs, 3), 8)),
      // the banded threshold levenshtein (SPARK-44886): exact distance
      // when <= k, -1 past it — O(n·k) band vs the full O(n·m) DP
      "fuzzy_pairs_banded" -> (() => {
        import org.apache.spark.sql.functions._
        val named = graft.api.Tables.customer(spark, sfDir)
          .groupBy(col("c_name").as("name")).agg(count(lit(1)).as("m"))
          .withColumn("block", expr("substring(name, 1, length(name) - 2)"))
        named.select(col("block"), col("name").as("name_a"), col("m").as("m_a"))
          .join(named.select(col("block"), col("name").as("name_b"), col("m").as("m_b")), "block")
          .filter(col("name_a") < col("name_b"))
          .withColumn("dist", levenshtein(col("name_a"), col("name_b"), 2))
          .filter(col("dist") >= 0)
          .select("block", "name_a", "name_b", "m_a", "m_b", "dist")
      }),
      // supplier_scorecard decomposition (r13 verdict carry item: the
      // 30× counter-move) — price the lineitem⋈orders fact-fact join
      // under each strategy vs the supplier-grain agg alone vs the raw
      // scan; deltas between stages name the superlinear term.
      "scorecard_full" -> (() =>
        graft.api.Queries.registry("supplier_scorecard").fn(spark, sfDir)),
      // pipeline_cluster_keep decomposition (r14 session-2: the family
      // A/B showed keep 32→47-65 s at 100× across the snapshot while
      // dedup_clusters — the SAME pairs→CC subtree — improved; these
      // stages name the diverging term)
      "ck_pairs" -> (() => graft.ops.Dedup.minhashPairs(
        plantedNearDocs, k = 8, bands = 4)),
      "ck_cc" -> (() => graft.ops.Dedup.duplicateClusters(
        graft.ops.Dedup.minhashPairs(plantedNearDocs, k = 8, bands = 4))),
      "ck_full" -> (() =>
        graft.api.Queries.registry("pipeline_cluster_keep").fn(spark, sfDir)),
      "scorecard_li_agg" -> (() => scorecardLiAgg(None)),
      "scorecard_li_agg_shj" -> (() => scorecardLiAgg(Some("shuffle_hash"))),
      "scorecard_li_agg_bcast" -> (() => scorecardLiAgg(Some("broadcast"))),
      "scorecard_agg_only" -> (() => {
        import org.apache.spark.sql.functions._
        graft.api.Tables.lineitem(spark, sfDir)
          .groupBy(col("l_suppkey").as("suppkey"))
          .agg(count(lit(1)).as("n_lines"),
            sum(expr("CAST(floor(l_extendedprice) AS BIGINT)")).as("rev"))
      }),
      "scorecard_scan" -> (() => {
        import org.apache.spark.sql.functions._
        graft.api.Tables.lineitem(spark, sfDir)
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_shipdate")
      }))

    // `splits` mode: assert the loader guarantee (Tables.load's
    // rowGroupBoundTarget) — every FAT-ROW table's scan parallelism is
    // at least HALF of Spark's own bytes heuristic (one split per
    // ≥4 MB, capped at cores), i.e. no text/vector table is
    // row-group-starved into a single task at 30×/100×. Skinny fact
    // tables must stay UN-shuffled (their row groups are their splits;
    // the indiscriminate rule cost +14% across the 10× sweep), so for
    // them the assertion is an UPPER bound — partitions never exceed
    // max(row groups, cores), i.e. the loader inserted no repartition
    // (Spark may still merge small groups into fewer splits). The JSON
    // carries the bound actually applied per table (min_required for
    // fat, max_allowed for skinny), plus a near_boundary flag when
    // bytes/row sits within 25% of the FatRowBytes classifier — a table
    // drifting across 64 B/row (e.g. compression changes) would change
    // regimes silently, and this run is where that shows first. Exits
    // non-zero on violation so the check is a gate, not a printout.
    if (args.length > 1 && args(1) == "splits") {
      val cores = spark.sparkContext.defaultParallelism
      var bad = 0
      val rows = Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings").flatMap { t =>
        val f = new java.io.File(s"$sfDir/$t.parquet")
        if (!f.exists) None else {
          val layout = graft.api.Tables.layoutOf(spark, s"$sfDir/$t.parquet")
          val got = graft.api.Tables.load(spark, sfDir, t).rdd.getNumPartitions
          val bpr = if (layout.rows > 0) layout.bytes / layout.rows else 0L
          // the classifier is max(disk, logical) width — flag the
          // boundary on the same quantity it actually tests
          val lbpr = if (layout.rows > 0) layout.logicalBytes / layout.rows else 0L
          val cbpr = math.max(bpr, lbpr)
          val nearBoundary = cbpr >= graft.api.Tables.FatRowBytes * 3 / 4 &&
            cbpr < graft.api.Tables.FatRowBytes * 5 / 4
          val bound =
            if (layout.fatRows) s""""min_required":${
              math.max(1, graft.api.Tables.bytesTarget(spark, layout.bytes) / 2)}"""
            else s""""max_allowed":${math.max(layout.rowGroups, cores)}"""
          val ok =
            if (layout.fatRows)
              got >= math.max(1, graft.api.Tables.bytesTarget(spark, layout.bytes) / 2)
            else got <= math.max(layout.rowGroups, cores)
          if (!ok) bad += 1
          Some(s""""$t":{"bytes":${layout.bytes},"rows":${layout.rows},""" +
            s""""row_groups":${layout.rowGroups},"fat_rows":${layout.fatRows},""" +
            s""""bytes_per_row":$bpr,"logical_bytes_per_row":$lbpr,""" +
            s""""near_boundary":$nearBoundary,""" +
            s""""partitions":$got,$bound,"ok":$ok}""")
        }
      }
      println(rows.mkString(s"""{"sf":"$sfDir","cores":$cores,"splits":{""", ",", "}}"))
      spark.stop()
      if (bad > 0) sys.exit(1)
      return
    }

    // `<dir> mhstats`: print Catalyst size estimates for the shingle
    // frame (the banded-checkpoint schedule signal) at this corpus
    if (args.length > 1 && args(1) == "mhstats") {
      val sh = graft.ops.Dedup.shingleRows(plantedNearDocs, 3)
      println(s"""{"sf":"$sfDir","sh_sizeInBytes":${sh.queryExecution.optimizedPlan.stats.sizeInBytes},"docs_sizeInBytes":${docs.queryExecution.optimizedPlan.stats.sizeInBytes}}""")
      spark.stop()
      return
    }

    val selected = if (args.length > 1) {
      val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSet
      probes.filter { case (n, _) => names(n) }
    } else probes

    // SPARK_GRAFT_EXPLAIN=1: print each probe's executed plan instead of
    // timing it — the plan-shape debugging companion to the timer
    if (sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1")) {
      selected.foreach { case (name, fn) =>
        println(s"===== $name =====")
        fn().explain("formatted")
      }
      spark.stop()
      return
    }

    val results = selected.map { case (name, fn) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        try { fn().queryExecution.toRdd.count(); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[probe] $name FAILED: ${e.getMessage}"); -1.0 }
      }
      val a = once(); val b = if (a >= 0) once() else -1.0
      name -> (if (b >= 0) math.min(a, b) else -1.0)
    }
    def r3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    spark.stop()
    println(results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString(s"""{"sf":"$sfDir","probes":{""", ",", "}}"))
    System.out.flush()
  }
}
