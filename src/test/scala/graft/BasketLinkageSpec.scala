package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.ops.{Basket, Linkage, Selection}

/** Round-9 operator family: market-basket mining, blocked record
  * linkage, canonicalization dedup, DSIR data selection — crafted
  * fixtures with hand-computed answers, plus plan-shape pins for the
  * declared queries built on them.
  */
class BasketLinkageSpec extends SparkSpecBase {
  import spark.implicits._

  private def baskets = Seq(
    // orders 1,2: {A,B,C}; 3: {A,B}; 4: {C,D} — co-pair support
    // AB=3, AC=2, BC=2, CD=1
    (1L, 101L), (1L, 102L), (1L, 103L),
    (2L, 101L), (2L, 102L), (2L, 103L),
    (3L, 101L), (3L, 102L),
    (4L, 103L), (4L, 104L)
  ).toDF("l_orderkey", "l_partkey")

  test("co-order edges prune below the support threshold") {
    val e = Basket.coOrderEdges(baskets, minSupport = 2)
      .orderBy("pa", "pb")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(e.toSeq == Seq((101L, 102L, 3L), (101L, 103L, 2L), (102L, 103L, 2L)))
  }

  test("association rules: hand-computed confidence and lift") {
    val rows = Basket.assocRules(baskets, minSupport = 2)
      .orderBy("pa", "pb").collect()
    val ab = rows.find(r => r.getLong(0) == 101L && r.getLong(1) == 102L).get
    // n_both=3, n_a=3, n_b=3, n_orders=4
    assert(ab.getAs[Long]("conf_ab_x1e6") == 1000000L)
    assert(ab.getAs[Long]("lift_x1e6") == 3L * 4L * 1000000L / 9L)
  }

  test("triangle census finds the single planted triangle") {
    val r = Basket.triangleStats(baskets, minSupport = 2).collect().head
    assert(r.getAs[Long]("n_edges") == 3L)
    assert(r.getAs[Long]("n_wedges") == 1L)
    assert(r.getAs[Long]("n_triangles") == 1L)
  }

  test("triangle census: open wedge stays uncounted") {
    // A-B, B-C with NO A-C edge: one wedge, zero triangles
    val open = Seq(
      (1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), // A-B support 2
      (3L, 2L), (3L, 3L), (4L, 2L), (4L, 3L)  // B-C support 2
    ).toDF("l_orderkey", "l_partkey")
    val r = Basket.triangleStats(open, minSupport = 2).collect().head
    assert(r.getAs[Long]("n_edges") == 2L)
    assert(r.getAs[Long]("n_wedges") == 1L)
    assert(r.getAs[Long]("n_triangles") == 0L)
  }

  test("k-core peeling cascades: tail peels over rounds, clique survives") {
    // K4 on parts 1-4 (every pair co-ordered twice) + a pendant chain
    // 4-5-6: chain nodes have degree < 3 and peel away (6 first, then
    // 5 needs the SECOND round), the K4 is exactly the 3-core
    def dup(p: Seq[(Long, Long)]) = p.flatMap { case (o, x) =>
      Seq((o, x), (o + 100L, x)) }
    val k4 = for {
      o <- Seq(1L, 2L); ps = Seq(1L, 2L, 3L, 4L); p <- ps
    } yield (o, p)
    val chain = dup(Seq((10L, 4L), (10L, 5L), (11L, 5L), (11L, 6L)))
    val li = (k4 ++ chain).toDF("l_orderkey", "l_partkey")
    val r = Basket.kCore(li, k = 3, rounds = 5).collect().head
    assert(r.getAs[Long]("n_core_nodes") == 4L, s"3-core must be the K4: $r")
    assert(r.getAs[Long]("n_core_edges") == 6L)
  }

  test("k-core reaches its fixpoint within the declared rounds on the corpus") {
    val li = graft.api.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val at5 = Basket.kCore(li, k = 3, rounds = 5).collect().head
    val at6 = Basket.kCore(li, k = 3, rounds = 6).collect().head
    assert(at5 == at6, s"one more peel changed the core: $at5 vs $at6")
  }

  test("weighted SSSP: hand-built path graph relaxes to true distances; corpus fixpoint within declared rounds") {
    // edges: 1-2 (support 2, w=500000), 2-3 (support 2, w=500000),
    // 1-3 (support 1, w=1000000), 3-4 (support 1, w=1000000) at
    // minSupport=1. Seed = max-degree node = 3 (deg 3). From 3: the
    // 2-hop path to 1 through 2 (cost 1000000) ties the direct edge
    // and min() keeps it; 4 hangs one heavy hop off the seed.
    val li = Seq(
      // orders {1,2} x2 -> support 2; {2,3} x2; {1,3} x1; {3,4} x1
      (101L, 1L), (101L, 2L), (102L, 1L), (102L, 2L),
      (103L, 2L), (103L, 3L), (104L, 2L), (104L, 3L),
      (105L, 1L), (105L, 3L),
      (106L, 3L), (106L, 4L)
    ).toDF("l_orderkey", "l_partkey")
    val d = Basket.ssspWeighted(li, rounds = 5, minSupport = 1, k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(3L -> 0L, 2L -> 500000L, 1L -> 1000000L, 4L -> 1000000L), s"$d")

    val corpus = graft.api.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val at5 = Basket.ssspWeighted(corpus, rounds = 5).collect().toSeq
    val at6 = Basket.ssspWeighted(corpus, rounds = 6).collect().toSeq
    assert(at5 == at6, "one more relaxation changed the top-20 distances")
  }

  /** The co-order edges of `li` as (pa, pb, 10⁶ div n_both). */
  private def weightedEdges(li: DataFrame, minSupport: Int) =
    Basket.coOrderEdges(li, minSupport).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), 1000000L / r.getLong(2)))

  test("weighted SSSP equals plain Bellman-Ford truncated at the round count on random graphs") {
    // a hub (part 1000) with 20 spokes outranks every other node's
    // degree, so it is the seed; a path 1000-2001-...-2008 hangs off it,
    // so node 200j is j hops out; random orders over the spokes and
    // parts 3000+ add weighted shortcuts, ties (costs 10⁶ div 1, 2, 3)
    // and, over parts 4000+, a component the seed never reaches
    for (seed <- 1 to 50) {
      val rnd = new scala.util.Random(seed)
      var order = 0L
      def bought(parts: Seq[Long], times: Int): Seq[(Long, Long)] =
        (1 to times).flatMap { _ => order += 1; parts.map(p => (order, p)) }
      val spokes = (1001L to 1020L)
      val star = spokes.flatMap(p => bought(Seq(1000L, p), 2 + rnd.nextInt(2)))
      val path = (1000L +: (2001L to 2008L)).sliding(2)
        .flatMap(p => bought(p, 2 + rnd.nextInt(2))).toSeq
      val mesh = (1 to 6).flatMap { _ =>
        val pool = spokes ++ (3000L until 3008L)
        bought(Seq.fill(2 + rnd.nextInt(2))(pool(rnd.nextInt(pool.size))).distinct,
          1 + rnd.nextInt(3))
      }
      val apart = (1 to 3).flatMap { _ =>
        bought(Seq(4000L + rnd.nextInt(4), 4004L + rnd.nextInt(4)), 2)
      }
      val li = (star ++ path ++ mesh ++ apart).toDF("l_orderkey", "l_partkey")
      val rounds = 1 + rnd.nextInt(6)
      val minSupport = 1 + rnd.nextInt(2)
      val ref = Reference.bellmanFord(weightedEdges(li, minSupport), rounds)
      val got = Basket.ssspWeighted(li, rounds, minSupport, k = 1000)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == ref, s"graph $seed, $rounds rounds, support $minSupport")
      // the path is reached exactly `rounds` hops deep, at the sum of its costs
      val onPath = got.keySet.filter(v => v > 2000L && v < 3000L)
      assert(onPath == (2001L to 2000L + math.min(rounds, 8)).toSet,
        s"graph $seed, $rounds rounds: path nodes $onPath")
      assert(!got.keySet.exists(_ >= 4000L), s"graph $seed reached the other component")
      // top-k breaks ties on dist by node
      val top = Basket.ssspWeighted(li, rounds, minSupport, k = 7)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(top == ref.toSeq.sortBy { case (v, d) => (d, v) }.take(7), s"graph $seed top-7")
    }
  }

  test("weighted SSSP runs one job per executed round and stops at the fixpoint") {
    val li = graft.api.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val edges = weightedEdges(li, 2)
    // the last round that lowers a distance; the active-set loop runs one
    // more to see nothing fall
    val fix = (0 to 50).find(r =>
      Reference.bellmanFord(edges, r) == Reference.bellmanFord(edges, r + 1)).get
    var laid: org.apache.spark.rdd.RDD[graft.ops.SsspPartition] = null
    val build = jobsRunBy { laid = Basket.ssspEdges(Basket.coOrderEdges(li, 2)) }
    laid.unpersist(blocking = true)
    val jobs = Seq(1, 3, 5, 50).map(r => r -> jobsRunBy(Basket.ssspWeighted(li, rounds = r)))
    // edge build + the seed + one per executed round
    assert(jobs == Seq(1, 3, 5, 50).map(r => r -> (build + 1 + math.min(r, fix + 1))),
      s"edge build $build jobs, fixpoint after round $fix: $jobs")
    assert(fix + 1 < 50, s"corpus fixpoint after round $fix")
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    Basket.ssspWeighted(li, rounds = 2)
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted,
      "the edge layout stayed persisted")
  }

  test("weighted SSSP keeps its schema: node of the co-order node type, dist BIGINT not null") {
    val li = graft.api.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val d = Basket.ssspWeighted(li)
    val node = Basket.coOrderEdges(li).schema("pa")
    assert(d.schema == StructType(Seq(node.copy(name = "node"),
      StructField("dist", LongType, nullable = false))), d.schema.treeString)
    val ints = li.select(col("l_orderkey"), col("l_partkey").cast("int").as("l_partkey"))
    val di = Basket.ssspWeighted(ints)
    assert(di.schema("node").dataType == IntegerType)
    assert(di.collect().map(r => (r.getInt(0).toLong, r.getLong(1))).toSeq ==
      d.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("chi-square statistic matches a hand-computed 2x2 table") {
    // O = [[30,10],[10,30]]: R = C = [40,40], T = 80
    // per cell: (O·T − R·C)² · 1e6 / (R·C·T) = (2400−1600)²·1e6/128000
    //         = 640000·1e6/128000 = 5,000,000 — all four cells equal
    val rows = Seq.fill(30)(("A", "x")) ++ Seq.fill(10)(("A", "y")) ++
      Seq.fill(10)(("B", "x")) ++ Seq.fill(30)(("B", "y"))
    val df = rows.zipWithIndex
      .map { case ((s0, p0), i) => (i.toLong, s0, p0) }
      .toDF("o_custkey", "seg", "prio")
    import org.apache.spark.sql.functions.{broadcast => _, _}
    val obs = df.groupBy("seg", "prio").agg(count(lit(1)).as("obs"))
    val rn = df.groupBy("seg").agg(count(lit(1)).as("rn"))
    val cn = df.groupBy("prio").agg(count(lit(1)).as("cn"))
    val tn = df.agg(count(lit(1)).as("tn"))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val chi2 = obs.join(rn, "seg").join(cn, "prio").crossJoin(tn)
      .withColumn("term", graft.functions.GraftFunctions.longDiv(
        (dec(col("obs")) * dec(col("tn")) - dec(col("rn")) * dec(col("cn")))
          * (dec(col("obs")) * dec(col("tn")) - dec(col("rn")) * dec(col("cn")))
          * dec(lit(1000000L)),
        dec(col("rn")) * dec(col("cn")) * dec(col("tn"))).cast("long"))
      .agg(sum("term")).head.getLong(0)
    assert(chi2 == 4L * 5000000L, s"chi2 = $chi2")
  }

  test("blocked fuzzy matching verifies inside blocks only, on distinct names") {
    val names = Seq((1L, "AAAA01"), (2L, "AAAA02"), (3L, "AAAA11"), (4L, "BBBB01"))
      .toDF("id", "name")
    val pairs = Linkage.fuzzyNamePairs(names, "name")
      .orderBy("name_a", "name_b")
      .collect().map(r => (r.getAs[String]("name_a"), r.getAs[String]("name_b"),
        r.getAs[Int]("dist")))
    // block AAAA: (01,02) d1, (01,11) d1, (02,11) d2; BBBB01 never
    // pairs with AAAA* despite being within edit distance of the cap
    assert(pairs.toSeq == Seq(("AAAA01", "AAAA02", 1), ("AAAA01", "AAAA11", 1),
      ("AAAA02", "AAAA11", 2)))
  }

  test("fuzzy summary: repeated names collapse to multiplicity, not block width") {
    // 'AAAA01' ×3 and 'AAAA02' ×2: the in-block join sees TWO distinct
    // names (one verify), exact-dup mass lands in the dist-0 row
    // (C(3,2)+C(2,2)=4), and the fuzzy pair carries weight 3·2=6
    val names = Seq("AAAA01", "AAAA01", "AAAA01", "AAAA02", "AAAA02")
      .zipWithIndex.map { case (n, i) => (i.toLong, n) }.toDF("id", "name")
    val rows = Linkage.fuzzyNameSummary(names, "name")
      .orderBy("dist")
      .collect().map(r => (r.getAs[Long]("dist"), r.getAs[Long]("n_pairs")))
    assert(rows.toSeq == Seq((0L, 4L), (1L, 6L)))
  }

  test("canonical groups: punctuation variants group, exact dups flagged") {
    val docs = Seq(
      (1L, "Hello,  World!"), (2L, "hello world"), (3L, "hello world."),
      (10L, "same text"), (11L, "same text"),
      (20L, "unique line")
    ).toDF("doc_id", "text")
    val gs = Linkage.canonicalGroups(docs).orderBy("canonical_id").collect()
    assert(gs.length == 2)
    val hello = gs(0)
    assert(hello.getAs[Long]("n") == 3L && hello.getAs[Long]("canonical_id") == 1L
      && !hello.getAs[Boolean]("exact_too"))
    val same = gs(1)
    assert(same.getAs[Long]("n") == 2L && same.getAs[Long]("canonical_id") == 10L
      && same.getAs[Boolean]("exact_too"))
  }

  test("suffix-levenshtein fuzzy pairs equal the full-name-DP reference") {
    // corners: short names (len <= blockSuffix share block "" WITHOUT
    // sharing a prefix — must keep the full-name distance), names at
    // exactly len = k and k+1, multibyte chars in prefix and suffix
    // (codepoint counting), and pairs straddling the maxDist filter
    val rows = Seq(
      "Customer#01", "Customer#02", "Customer#99", "Customer#0x",
      "a", "b", "xy", "zz", "q1", "ab", "abc", "abd", "abz", "aXc",
      "naïve#α1", "naïve#α2", "naïve#β9", "你好#11", "你好#12"
    ).map(Tuple1(_)).toDF("c_name")
    val opt = Linkage.fuzzyNamePairs(rows, "c_name")
      .select("name_a", "name_b", "dist").orderBy("name_a", "name_b")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    val named = rows.groupBy(col("c_name").as("name")).agg(count(lit(1)).as("m"))
      .withColumn("block", expr("substring(name, 1, length(name) - 2)"))
    val ref = named.select(col("block"), col("name").as("name_a"))
      .join(named.select(col("block"), col("name").as("name_b")), "block")
      .filter(col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 2)
      .select("name_a", "name_b", "dist").orderBy("name_a", "name_b")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(opt.toSeq == ref.toSeq && opt.nonEmpty)
  }

  test("fused canonicalizer is byte-equal to the regex chain it replaces") {
    // adversarial corners: unicode that lowercases INTO the kept class
    // (Kelvin sign → k, İ → i + combining dot, the dot then stripped),
    // multibyte junk, tabs/newlines (stripped, NOT space), space runs,
    // leading/trailing/all-space, digits, empty
    val rows = Seq(
      "Hello,  World!", "  lead", "trail   ", "   ", "", "a", "A.B-C",
      "tab\there", "line\nbreak", "KKelvin", "İstanbul",
      "café 42", "你好 world", "x  --  y", "1,234.56",
      "vtabv\u000bv\u000cf\u000dr mix\t\r x", "\t\nlead ws", "trail ws\r\n",
      "UPPER lower MiXeD", "ß sharp", "emoji 😀 end",
      // ICU-vs-JVM lowercase divergent codepoints (Spark 4.1's lower()
      // uses ICU by default; UTF8String.toLowerCase uses JVM tables):
      // the fused path must lower through CollationSupport.Lower.exec
      // or these rows break byte-equality with the builtin.
      "aꟀb", "x Ᲊ y", "sup 𐕰 plane"
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val both = rows.select(
      Linkage.canonical(col("text")).as("fused"),
      Reference.canonicalBuiltin(col("text")).as("builtin"),
      graft.ops.TextOps.normalized(col("text")).as("nfused"),
      Reference.normalizedBuiltin(col("text")).as("nbuiltin"))
    assert(both.filter(col("fused") =!= col("builtin")
        || col("fused").isNull =!= col("builtin").isNull).count() == 0)
    // normalized() keeps non-[a-z0-9 ] chars, so the unicode rows gate
    // the pass-through path; \t/\n/\v/\f/\r collapse to ' ' like \s+
    assert(both.filter(col("nfused") =!= col("nbuiltin")
        || col("nfused").isNull =!= col("nbuiltin").isNull).count() == 0)
  }

  test("DSIR weights rank target-like docs above off-target docs") {
    val docs = Seq(
      (1L, "the cat sat on the mat", "en", "s1"),
      (2L, "the cat ran to the mat", "en", "s1"),
      (3L, "the dog sat on the rug", "en", "s1"),
      (4L, "der hund lief durch den park", "de", "s2"),
      (5L, "der vogel flog durch den wald", "de", "s2")
    ).toDF("doc_id", "text", "lang", "source")
    val w = Selection.dsirWeights(docs, targetLang = "en")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("avg_score_x1e6")).toMap
    assert(Seq(1L, 2L, 3L).map(w).min > Seq(4L, 5L).map(w).max,
      s"en docs must outscore de docs: $w")
    // smoothing keeps unseen-in-target buckets finite (no nulls)
    assert(w.values.forall(_ > Long.MinValue))
  }

  test("UniMax water-filling: caps bind, remainder splits exactly") {
    // A:10 chars, B:100 chars; budget = 9/10 · 110 = 99, 1-epoch cap.
    // A's cap (10) fits under the fair share → full; B takes the
    // remaining 89. Allocation must sum to the budget EXACTLY.
    val docs = Seq((1L, "A", 10L), (2L, "B", 100L))
      .toDF("doc_id", "lang", "n_chars")
    val rows = Selection.unimaxAllocation(docs)
      .orderBy("lang")
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[Long]("alloc"),
        r.getAs[Long]("epochs_x1e6")))
    assert(rows.toSeq == Seq(("A", 10L, 1000000L), ("B", 89L, 890000L)))
  }

  test("UniMax remainder distribution is deterministic and budget-exact") {
    // three equal languages, budget 100: share 33 each + remainder 1
    // to the first in sort order; total is exactly the budget
    val docs = Seq((1L, "a", 500L), (2L, "b", 500L), (3L, "c", 500L))
      .toDF("doc_id", "lang", "n_chars")
    // budget = 9/10 · 1500 = 1350 < any cap·(n−i+1) path? caps are 500
    // each; 500·3 = 1500 > 1350 → nobody full; share = 450 each, no
    // remainder. Then perturb: budget 1351 is not expressible with
    // fixed 9/10 — use unequal sizes instead: 499+500+501 → budget
    // 1350, sorted caps (499,500,501): 499·3=1497>1350 → share
    // 450/450/450 with remainder 0
    val docs2 = Seq((1L, "a", 499L), (2L, "b", 500L), (3L, "c", 501L))
      .toDF("doc_id", "lang", "n_chars")
    for (d <- Seq(docs, docs2)) {
      val rows = Selection.unimaxAllocation(d).collect()
      val budget = d.agg(org.apache.spark.sql.functions.expr(
        "sum(n_chars) * 9 div 10")).head.getLong(0)
      assert(rows.map(_.getAs[Long]("alloc")).sum == budget,
        "allocation must exactly exhaust the budget")
      assert(rows.forall(r => r.getAs[Long]("alloc") <= r.getAs[Long]("toks")),
        "no language exceeds its 1-epoch cap")
    }
  }

  test("PCA power iteration recovers a planted rank-1 direction exactly") {
    // zero-mean cloud along (3, 4): the dominant component is ±(0.6,
    // 0.8), so the ∞-normalized iterate must be exactly
    // (0.75·2²⁰, 2²⁰) after one step — and stay there
    val embs = Seq(
      (1L, Array(0.3f, 0.4f)), (2L, Array(-0.3f, -0.4f)),
      (3L, Array(0.6f, 0.8f)), (4L, Array(-0.6f, -0.8f))
    ).toDF("vec_id", "embedding")
    val v = graft.ops.Spectral.pcaPower(embs, iters = 3)
      .collect().map(r => r.getAs[Long]("d") -> r.getAs[Long]("v")).toMap
    assert(v(1L) == (graft.ops.Spectral.Scale * 3) / 4 && v(2L) == graft.ops.Spectral.Scale,
      s"expected (786432, 1048576), got $v")
  }

  test("PCA power step keeps the codegen'd long dot in the plan") {
    val df = graft.api.Queries.registry("emb_pca_power")
      .fn(spark, "/root/testdata/sf0.001")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft_dot_long"),
      s"matvec should use LongDotProduct:\n${p.take(1200)}")
  }

  test("DSIR is a broadcast-model plan: bucket table broadcasts, no cartesian") {
    val df = graft.api.Queries.registry("pipeline_dsir_sample")
      .fn(spark, "/root/testdata/sf0.001")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), "cartesian in DSIR plan")
    assert(p.contains("BroadcastHashJoin"),
      s"bucket model should broadcast:\n${p.take(1500)}")
  }

  test("assoc/triangle plans stay on keyed joins — no cartesian") {
    for (name <- Seq("assoc_part_pairs", "graph_triangles", "dedup_fuzzy_names")) {
      val df = graft.api.Queries.registry(name).fn(spark, "/root/testdata/sf0.001")
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"cartesian in $name:\n${p.take(1200)}")
    }
  }

  test("EWMA scatter plan has no range join and no cartesian") {
    val df = graft.api.Queries.registry("events_ewma").fn(spark, "/root/testdata/sf0.001")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"cartesian in events_ewma")
    // the only nested-loop is the 1-row max-hour broadcast; the
    // hourly->target scatter must be an aggregate, not a theta-join
    assert(p.contains("Generate") || p.contains("explode"),
      "EWMA should scatter via explode, not join on an hour range")
  }
}
