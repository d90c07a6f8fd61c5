package graft

import graft.api.{Queries, Tables}

/** Plan-quality assertions: the 100 TB story depends on filters reaching
  * the parquet scan, small dims broadcasting, and codegen covering the
  * hot path. These pin the *plan*, not just the answer.
  */
class PlanSpec extends SparkSpecBase {
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = Queries.registry(name).fn(spark, dir)
    df.collect() // materialize THIS queryExecution so AQE finalizes
    df.queryExecution.executedPlan.toString
  }

  /** WholeStageCodegen prints as `*(n)` in the compact plan format. */
  private def hasCodegen(p: String): Boolean =
    p.contains("WholeStageCodegen") || p.contains("*(1)")

  test("selective filters are pushed to the parquet scan of a real store") {
    // On the *derived* triples view a subject filter is concat(...)=x —
    // provably unpushable; on the materialized TripleStore the filter
    // lands on the stored subj column and must reach parquet.
    import spark.implicits._
    val st = new graft.store.TripleStore(spark, tmpDir("plan-store") + "/t", 8)
    st.insert(Seq(graft.model.Triple("s1", "p", "o"),
      graft.model.Triple("s2", "p", "o")).toDF())
    val q = st.query(graft.model.ArrayOp.of(
      graft.model.TriplePattern(subj = Some("s1"))))
    val p = q.queryExecution.executedPlan.toString
    // a subject group compiles to one InSet, pushed as In whatever its size
    assert(p.contains("PushedFilters: [In(subj, [s1])]"),
      s"subject membership not pushed:\n${p.take(2000)}")
  }

  /** A 64-bucket store where n(i) links to n(i+1). */
  private def chainStore(): graft.store.TripleStore = {
    import spark.implicits._
    val st = new graft.store.TripleStore(spark, tmpDir("plan-chain") + "/t", 64)
    st.insert((0 until 400).map(i => graft.model.Triple(s"n$i", "next", s"n${(i + 1) % 400}")).toDF())
    st
  }

  private def subjects(xs: String*) =
    graft.model.ArrayOp.Or(xs.map(x => graft.model.TriplePattern(subj = Some(x))))

  test("a rooted OR query pushes In(subj, …) to parquet") {
    val q = chainStore().query(subjects("n3", "n4", "n5"))
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[In\\(subj, \\[n[345],n[345],n[345]\\]\\)\\]".r
      .findFirstIn(p).nonEmpty, s"subject membership not pushed:\n${p.take(2000)}")
  }

  test("a store hop: frontier side has no aggregate or exchange; the scan prunes buckets dynamically") {
    import org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val next = graft.model.ArrayOp.of(graft.model.TriplePattern(pred = Some("next")))
    val df = new graft.engine.Engine(chainStore()).executeQuery(Seq(subjects("n1", "n2"), next))
    assert(df.select("subj").collect().map(_.getString(0)).toSet == Set("n2", "n3"))
    val aqe = new AdaptiveSparkPlanHelper {}
    val plan = df.queryExecution.executedPlan
    val hops = aqe.collect(plan) { case j: BroadcastHashJoinExec if j.joinType == LeftSemi => j }
    assert(hops.size == 1, s"one broadcast semi-join expected:\n$plan")
    val frontierSide = aqe.collect(hops.head.right) {
      case a: BaseAggregateExec => a
      case e: ShuffleExchangeLike => e
    }
    assert(frontierSide.isEmpty, s"frontier side aggregates or shuffles:\n$plan")
    val scans = aqe.collect(hops.head.left) { case s: FileSourceScanExec => s }
    assert(scans.size == 1 && scans.head.partitionFilters.exists {
      case d: DynamicPruningExpression => d.references.exists(_.name == "bucket")
      case _ => false
    }, s"no dynamic bucket pruning on the hop's scan:\n$plan")
    // only the frontier's buckets (n2's and n3's) are read
    assert(scans.head.metrics("numFiles").value <= 2, s"hop read ${scans.head.metrics("numFiles").value} files")
  }

  test("scan is column-pruned to referenced columns") {
    val p = plan("agg_pricing_summary")
    // only the 5 referenced lineitem columns should be read
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_shipdate"), "unused column not pruned from scan")
    assert(!p.contains("l_orderkey"), "unused column not pruned from scan")
  }

  test("dimension side of the top-k join is broadcast") {
    val p = plan("join_topk_revenue")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"no broadcast join:\n${p.take(2000)}")
  }

  test("whole-stage codegen covers the aggregation pipeline") {
    val p = plan("agg_pricing_summary")
    assert(hasCodegen(p), s"no codegen span:\n${p.take(1500)}")
  }

  test("custom murmur64 expression participates in codegen") {
    val df = Tables.starTriples(spark, dir)
      .select(graft.functions.GraftFunctions.murmur64(
        org.apache.spark.sql.functions.col("subj")).as("h"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the custom expression must sit INSIDE a codegen stage (`*(n)`),
    // not fall back to interpreted eval
    assert(p.contains("*(1) Project [graft_murmur64"),
      s"murmur64 fell out of codegen:\n${p.take(1500)}")
  }

  test("multi-way regional join broadcasts its dimension sides") {
    val p = plan("join_regional_revenue")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 1, s"nation/region dims not broadcast:\n${p.take(2000)}")
    // the fact-fact join (lineitem x orders) must NOT broadcast at real
    // scale — but at sf0.001 AQE may legitimately broadcast everything,
    // so only assert the dims here.
  }

  test("language-ID regex duplication in the plan stays bounded") {
    val df = Queries.registry("text_langid_eval").fn(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // regexp_count lowers to regexp_extract_all. CollapseProject may
    // re-inline each projected score into the argmax ONCE (runtime
    // codegen subexpression elimination dedupes those), but the
    // pre-projection must keep the chain from exploding to the naive
    // per-branch expansion (~5 evals per profile).
    val hits = "regexp_extract_all".r.findAllIn(p).size
    val profiles = graft.ops.TextOps.stopwords.size
    assert(hits <= 2 * profiles,
      s"regex evals exploded: $hits occurrences for $profiles profiles")
  }

  test("bloom probe expression stays inside whole-stage codegen") {
    val p = plan("bloom_semijoin")
    // the operator carrying the probe must be inside a codegen'd stage
    // (prints as `*(n) Filter ... graft_bloom_probe...`), not an
    // interpreted fallback line without the `*(n)` marker
    val probeLines = p.linesIterator.filter(_.contains("graft_bloom_probe")).toSeq
    assert(probeLines.nonEmpty, s"probe missing from plan:\n${p.take(1500)}")
    assert(probeLines.exists(_.matches(""".*\*\(\d+\).*""")),
      s"bloom probe fell out of codegen:\n${probeLines.mkString("\n")}")
  }

  test("embedding near-dup candidates come from keyed LSH-bucket joins — never all-pairs") {
    val p = plan("dedup_embedding")
    assert(!p.contains("CartesianProduct"),
      s"cross join in dedup_embedding plan:\n${p.take(2000)}")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in dedup_embedding plan:\n${p.take(2000)}")
  }

  test("ngram-jaccard plan is keyed joins only (minhash prefilter, no all-pairs)") {
    val p = plan("dedup_ngram_jaccard")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"unkeyed join in dedup_ngram_jaccard plan:\n${p.take(2000)}")
  }

  test("containment plan is keyed joins only (shingle inverted index, no all-pairs)") {
    val p = plan("dedup_containment")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"unkeyed join in dedup_containment plan:\n${p.take(2000)}")
  }

  test("profile_columns: distinct Expand is split from the base profile agg") {
    // One combined agg would rewrite to a single Expand carrying every
    // min/max/count input at 7x the rows (measured 16.1 s at 10x); the
    // split shape keeps exactly one NARROW Expand (distinct counts
    // only) and joins the two scalar frames by broadcast (3.1 s).
    // AQE prints Final + Initial sections — pin the FINAL plan only
    val p = plan("profile_columns").split("== Initial Plan ==").head
    val expands = p.linesIterator.count(_.contains("Expand"))
    assert(expands == 1, s"expected exactly one Expand, got $expands:\n${p.take(2000)}")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"split aggs should meet in a broadcast of a 1-row frame:\n${p.take(2000)}")
    // the Expand must not carry the base profile's min/max partials
    val expandLine = p.linesIterator.find(_.contains("Expand")).getOrElse("")
    assert(!expandLine.contains("min(") && !expandLine.contains("max("),
      s"Expand still carries base-agg inputs:\n$expandLine")
  }

  test("exact-substring plan is keyed joins only (positioned shingle index, no all-pairs)") {
    val p = plan("dedup_exact_substring")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"unkeyed join in dedup_exact_substring plan:\n${p.take(2000)}")
  }

  test("banded minhash pairs evaluate the signature subtree once (no band self-join)") {
    val p = plan("dedup_minhash").split("== Initial Plan ==")(0)
    // each (band, key) group is collected once and paired in-row: one
    // signature aggregate and one band-frequency count, no self-join
    // whose two sides would each need the banded frame
    assert("graft_minhash_longs".r.findAllIn(p).size == 1,
      s"signature subtree evaluated more than once:\n${p.take(3000)}")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"band self-join or per-side frequency window in dedup_minhash plan:\n${p.take(3000)}")
  }

  test("bm25 counts query terms scan-side in one tokenize pass, no token shuffle") {
    val p = plan("text_bm25_topk").split("== Initial Plan ==")(0)
    val lines = p.linesIterator.toIndexedSeq
    // dl and every query term's tf come from one per-document expression
    // over the parquet scan; no token row is exploded or shuffled
    val ti = lines.indexWhere(l => l.contains("graft_term_counts") && l.contains("spark") &&
      l.contains("vector"))
    assert(ti >= 0, s"term counts missing from plan:\n${p.take(2500)}")
    val below = lines.drop(ti + 1)
    val scanAt = below.indexWhere(l => l.contains("Scan parquet") || l.contains("FileScan"))
    assert(scanAt >= 0, s"no scan beneath the term counts:\n${p.take(2500)}")
    assert(!below.take(scanAt).exists(_.contains("Exchange")),
      s"shuffle between term counts and scan:\n${below.take(scanAt + 1).mkString("\n")}")
    assert(!p.contains("Generate"), s"tokens exploded in the bm25 plan:\n${p.take(2500)}")
  }

  test("tfidf target-slice predicate is pushed through the tf aggregate to parquet") {
    val p = plan("text_tfidf_topterms")
    // doc_id < 30 filters on a grouping key, so Catalyst must push it
    // below the (doc_id, w) aggregate and into the target branch's scan
    assert(p.contains("LessThan(doc_id,30)"),
      s"doc_id slice not pushed to a parquet scan:\n${p.take(2500)}")
  }

  test("stratified sample plan is shuffle-free up to the presentation sort") {
    val p = plan("sample_stratified")
    // hash-threshold membership needs no aggregate and no hash shuffle;
    // the only exchange allowed is the final ORDER BY's range partition
    assert(!p.contains("HashAggregate"), s"unexpected aggregate:\n${p.take(2000)}")
    assert(!p.contains("Exchange hashpartitioning"),
      s"unexpected hash shuffle:\n${p.take(2000)}")
  }

  test("top-k aggregator runs a map-side partial before the shuffle") {
    val p = plan("window_topk_per_customer_agg")
    // the Aggregator lowers to ObjectHashAggregate in partial + final
    // modes around the group-key exchange — the property that caps the
    // shuffle at k rows per group (a window top-k shuffles everything)
    val aggs = "ObjectHashAggregate".r.findAllIn(p).size
    assert(aggs >= 2, s"no partial/final aggregate pair:\n${p.take(2500)}")
    assert(p.contains("partial_topk") || aggs >= 2)
  }

  test("events scan prunes to referenced columns only") {
    val p = Queries.registry("regexp_event_props").fn(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("user_id"), "unused events column not pruned")
  }

  test("bigram top-50 is a TakeOrdered, never a full global sort") {
    val p = plan("text_bigram_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"limit+sort not fused to TakeOrdered:\n${p.take(2000)}")
  }

  test("chunk windows plan has no shuffle before the presentation sort") {
    val p = plan("text_chunk_windows")
    // token count + window arithmetic + explode are all per-row; the
    // only exchange allowed is the final ORDER BY's range partition
    assert(!p.contains("Exchange hashpartitioning"),
      s"unexpected hash shuffle:\n${p.take(2000)}")
    assert(!p.contains("HashAggregate"), s"unexpected aggregate:\n${p.take(2000)}")
  }

  test("knn classify: the tiny neighbor list broadcasts into the label join") {
    val p = plan("sim_knn_classify")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"neighbor list not broadcast:\n${p.take(2000)}")
  }

  test("epoch shuffle preview is a TakeOrdered, never a global sort") {
    val p = plan("pipeline_epoch_shuffle")
    assert(p.contains("TakeOrderedAndProject"),
      s"limit+sort not fused to TakeOrdered:\n${p.take(2000)}")
  }

  test("multimodal dedup is one digest shuffle with a map-side partial") {
    // AQE's toString prints Final AND Initial plan sections — count
    // shuffles in the final section only
    val p = plan("multimodal_dedup").split("== Initial Plan ==")(0)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1, s"expected exactly one hash shuffle, got $shuffles:\n${p.take(2500)}")
    val aggs = "HashAggregate".r.findAllIn(p).size
    assert(aggs >= 2, s"no partial/final aggregate pair:\n${p.take(2500)}")
  }

  test("multi-probe ANN broadcasts the probe side into a keyed bucket join") {
    // the operator's scale contract: the corpus is bucketed once per
    // table and joined on (table, bucket) with the (tiny, multi-probed)
    // query side BROADCAST — never an all-pairs plan, and the probe
    // fan-out must not promote the join to a shuffle of the corpus
    val p = plan("sim_ann_multiprobe")
    assert(p.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"unkeyed join in multi-probe plan:\n${p.take(2000)}")
  }

  test("embedding bucket self-join reuses one exchange for the plane-dot subtree") {
    // the tables×bits plane dots per vector are the scan-side cost of
    // sign-LSH; the shuffle_hash self-join must evaluate them once
    // (ReusedExchange), not once per join side — the broadcast shape
    // the planner picks by default recomputes them and builds a
    // wide-row map (measured 3.4× slower at 10×)
    // pin the STATIC plan: under AQE, whether the identical stages
    // dedupe into a ReusedExchange depends on materialization timing
    // (observed racing to two distinct ShuffleQueryStages under heavy
    // host load) — the declared shape is what the planner emits, and
    // that is deterministic only with AQE off
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val p =
      try plan("dedup_embedding")
      finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    assert(p.contains("ReusedExchange"),
      s"no exchange reuse in dedup_embedding plan:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"unkeyed join in embedding plan:\n${p.take(2000)}")
  }

  test("incremental dedup probes the corpus with a broadcast batch — no corpus self-join") {
    // the ingest contract: corpus band keys joined against the (small)
    // batch band frame via broadcast, never a corpus-corpus self-join
    // or an unkeyed plan — the corpus side is touched once
    val p = plan("dedup_incremental")
    assert(p.contains("BroadcastHashJoin"),
      s"batch side not broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"unkeyed join in incremental dedup plan:\n${p.take(2000)}")
  }

  test("sync diff is a broadcast bloom probe — no corpus shuffle after the build") {
    // the reconciliation's wire economics: one small filter broadcast +
    // a map-side anti-probe scan; the diff itself must not shuffle
    val p = plan("tp_sync_diff").split("== Initial Plan ==")(0)
    val probeLines = p.linesIterator.filter(_.contains("graft_bloom_probe")).toSeq
    assert(probeLines.nonEmpty, s"bloom probe missing:\n${p.take(1500)}")
    // the diff plan is scan → filter(probe) → presentation sort: the
    // only exchange is the sort's range partitioning, never a hash
    // shuffle (the bloom BUILD is a separate treeAggregate job)
    assert(!p.contains("Exchange hashpartitioning"),
      s"probe path shuffles the corpus:\n${p.take(2500)}")
  }

  test("sliced sync diff is one scan: no union, one codegen'd slice-indexed probe") {
    // the four slice filters are built in one pass and probed by slice
    // index in one scan of the peer — not four filtered re-scans unioned
    val p = plan("tp_sync_diff_sliced").split("== Initial Plan ==")(0)
    // the cached triples view is itself a union of its sources; only
    // the plan above that cache is the diff's
    val diff = p.linesIterator.takeWhile(!_.contains("InMemoryRelation")).mkString("\n")
    assert(!diff.contains("Union"), s"per-slice union in the diff plan:\n${diff.take(2500)}")
    val probeLines = p.linesIterator.filter(_.contains("graft_bloom_probe")).toSeq
    assert(probeLines.nonEmpty, s"bloom probe missing:\n${p.take(1500)}")
    assert(probeLines.exists(_.matches(""".*\*\(\d+\).*""")),
      s"bloom probe fell out of codegen:\n${probeLines.mkString("\n")}")
  }

  test("sliced sync diff probe filter evaluates the subject hash once per row") {
    // the slice index is one expression over the hash; a when-chain of
    // membership tests repeated md5(subj) in every branch, and FilterExec
    // eliminates no common subexpressions
    val p = plan("tp_sync_diff_sliced").split("== Initial Plan ==")(0)
    val filters = p.linesIterator.filter(l =>
      l.contains("Filter") && l.contains("graft_bloom_probe")).toSeq
    assert(filters.size == 1, s"expected one probe filter:\n${p.take(2500)}")
    assert("md5\\(".r.findAllIn(filters.head).size == 1,
      s"hash evaluated more than once per row:\n${filters.head}")
    assert(filters.head.contains("graft_ring_slice"), filters.head)
  }

  test("waiting-supplier decorrelates to keyed semi+anti joins, dim broadcast") {
    // the Q21 shape: EXISTS and NOT EXISTS against the same lineitem
    // self-join must become keyed LeftSemi/LeftAnti shuffles on
    // l_orderkey (never a nested-loop or cartesian), with the supplier
    // dim broadcast onto the survivors
    val p = plan("join_waiting_supplier")
    assert(p.contains("LeftSemi"), s"no semi join:\n${p.take(2000)}")
    assert(p.contains("LeftAnti"), s"no anti join:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"),
      s"supplier dim not broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"unkeyed join in waiting-supplier plan:\n${p.take(2000)}")
  }

  test("shard-budget cumsum is bucket-partitioned; prefix frame broadcasts") {
    // the global running total must decompose: the corpus-sized window
    // partitions by bucket (hashpartitioning(bucket)), only the
    // 1024-row bucket-prefix frame may pass through a SinglePartition
    // exchange, and the prefix offsets re-join by broadcast
    val p = plan("pipeline_shard_budget")
    assert(p.contains("hashpartitioning(bucket"),
      s"doc-level window not bucket-partitioned:\n${p.take(2500)}")
    assert(p.contains("BroadcastHashJoin"),
      s"bucket-prefix frame not broadcast:\n${p.take(2500)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"unkeyed join in shard-budget plan:\n${p.take(2000)}")
  }

  test("deflate ratio scan runs inside whole-stage codegen") {
    // the native expression must fuse into the scan stage (a UDF would
    // break the codegen span and serialize every row)
    val p = plan("text_compression_ratio")
    assert(hasCodegen(p), s"no codegen span:\n${p.take(1500)}")
    assert(p.contains("graft_deflate_size"),
      s"deflate expression missing from plan:\n${p.take(1500)}")
    // the ratio aggregate must be partial (map-side combine before the
    // source shuffle): partial_count/partial_sum markers in HashAggregate
    assert(p.contains("partial_"),
      s"no map-side partial aggregate:\n${p.take(2000)}")
  }

  test("compressibility proxy is a pure scan — no explode before the source agg") {
    // the trigram distinct/total ratio must stay a per-row column
    // expression (transform + array_distinct inside the scan project):
    // an exploded shingle frame would shuffle O(tokens) rows where the
    // deflate twin shuffles O(sources)
    val p = plan("text_compressibility_proxy")
    assert(hasCodegen(p), s"no codegen span:\n${p.take(1500)}")
    assert(!p.contains("Generate") && !p.contains("Explode"),
      s"shingles exploded — per-doc ratio must be a column expression:\n${p.take(2000)}")
    assert(p.contains("partial_"),
      s"no map-side partial aggregate:\n${p.take(2000)}")
    // the O(tokens) pin the no-explode assertions above CANNOT see: the
    // round-6 projection-alias form satisfied them while CollapseProject
    // re-inlined the token split 6× into the transform lambda (lambda
    // bodies get no CSE → O(tokens²) splits per doc, 12 s at sf0.1).
    // With the split bound to a lambda variable it appears EXACTLY once
    // in the optimized plan.
    val opt = Queries.registry("text_compressibility_proxy")
      .fn(spark, dir).queryExecution.optimizedPlan.toString
    val nSplit = "split\\(".r.findAllIn(opt).size
    assert(nSplit == 1,
      s"token split appears $nSplit times in the optimized plan (must be 1 — " +
        s"re-inlined into a lambda body means O(tokens²)):\n${opt.take(2000)}")
  }

  test("winnow fingerprints: token split bound once, keyed join, no cartesian") {
    // same O(tokens) discipline as the compressibility proxy: the token
    // array and the per-position hash array are lambda variables, so the
    // split must appear EXACTLY once in winnowRows' optimized plan — a
    // re-inlined alias would re-split per shingle position (O(tokens²))
    val rows = graft.ops.Dedup.winnowRows(
      spark.read.parquet(s"$dir/documents.parquet"))
    val opt = rows.queryExecution.optimizedPlan.toString
    val nSplit = "split\\(".r.findAllIn(opt).size
    assert(nSplit == 1,
      s"token split appears $nSplit times (must be 1 — re-inlined into a " +
        s"lambda body means O(tokens²)):\n${opt.take(2000)}")
    // and the pair join stays keyed on the fingerprint
    val p = plan("dedup_winnow")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"unkeyed join in winnow plan:\n${p.take(2000)}")
  }

  test("curriculum stage boundaries broadcast back onto the scoring scan") {
    // the |sources|×3 quartile frame must join back as a broadcast —
    // the corpus never reshuffles for stage assignment (same contract
    // as the winsorize thresholds)
    val p = plan("pipeline_curriculum")
    assert(p.contains("BroadcastHashJoin"),
      s"boundary join not broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"unkeyed join in curriculum plan:\n${p.take(2000)}")
  }

  test("dedup funnel composes keyed joins only — no cartesian anywhere") {
    // three detectors + two anti-joins in one plan: every join must be
    // keyed (fp / band+key / doc_id); a cartesian would mean a detector
    // lost its blocking key somewhere in the composition
    val p = plan("pipeline_dedup_funnel")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"unkeyed join in funnel plan:\n${p.take(2500)}")
  }

  test("winsorize thresholds broadcast back onto the value scan") {
    // the per-type [p1,p99] frame is 5 rows — re-joining it to the
    // events scan must be a broadcast, and the whole plan stays keyed
    val p = plan("events_value_winsorize")
    assert(p.contains("BroadcastHashJoin"),
      s"threshold join not broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"unkeyed join in winsorize plan:\n${p.take(2000)}")
  }

  test("heavy hitters: MG sketch partial-aggregates map-side; recount join broadcasts candidates") {
    // the sketch must combine per-partition buffers BEFORE the single
    // final merge (one ObjectHashAggregate pair — the token mass never
    // shuffles), and the exact recount must probe the stream against
    // the broadcast candidate list, never shuffle-join the token stream
    val p = plan("agg_heavy_hitters")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      s"no typed-aggregator node:\n${p.take(2000)}")
    assert(p.contains("partial_"), s"no map-side partial for the sketch:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"),
      s"candidate recount not a broadcast probe:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), s"cartesian in sketch plan:\n${p.take(2000)}")
  }

  test("two-phase gini rank: the only unpartitioned window runs on the bucket-offsets frame") {
    // bucketedRank's contract: in-bucket ranking is a PARTITIONED
    // window; the single SinglePartition window is the prefix sum over
    // the occupied-bucket frame (KB-sized). Count the unpartitioned
    // window specs in the executed plan.
    val df = Queries.registry("stats_gini_customers").fn(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val windows = p.split("\n").filter(_.contains("Window ["))
    // the row_number (in-bucket rank over the ENTITY frame) must carry
    // a partition spec — it prints `Window [row_number() ...], [_bkt#N]`
    assert(windows.exists(l => l.contains("row_number()") && l.contains("], [_bkt#")),
      s"rank window not bucket-partitioned:\n${windows.mkString("\n").take(1500)}")
    // the ONLY unpartitioned window is the offsets prefix sum over the
    // bucket-COUNT frame (sum of _bn — one row per occupied bucket)
    val unpartitioned = windows.filterNot(l => l.contains("], [_bkt#"))
    assert(unpartitioned.forall(_.contains("sum(_bn")),
      s"unexpected unpartitioned window over a non-bucket frame:\n${unpartitioned.mkString("\n")}")
  }

  test("semantic decontamination: the benchmark side broadcasts; corpus never self-joins") {
    val p = plan("pipeline_decontaminate_semantic")
    assert(p.contains("BroadcastExchange"),
      s"benchmark frame not broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"),
      s"non-broadcast cartesian in decontamination plan:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-sized shuffle join in decontamination plan:\n${p.take(2000)}")
  }

  test("hybrid RRF: the fusion join of the two top-k lists is broadcast, never shuffled") {
    val p = plan("search_hybrid_rrf")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"fused lists not broadcast-joined:\n${p.take(2500)}")
    assert(!p.contains("CartesianProduct"), s"cartesian in RRF plan:\n${p.take(2500)}")
  }

  test("KS exact: per-value counts partial-aggregate before the domain-frame window") {
    // the corpus-side groupBy must map-side combine (partial_sum) so
    // the shuffle carries one row per distinct value, and the only
    // window input is that domain-bounded frame
    val p = plan("stats_ks_flags")
    assert(p.contains("partial_"), s"no map-side combine:\n${p.take(2000)}")
    assert(p.contains("Window"), s"no window:\n${p.take(1000)}")
  }

  /** AQE plan strings repeat every operator in the "Initial Plan"
    * section — count nested-loop joins in the FINAL plan only.
    */
  private def bnljCount(p: String): Int =
    "BroadcastNestedLoopJoin".r.findAllIn(p.split("== Initial Plan ==")(0)).size

  test("CUSUM changepoint: hourly pre-agg combines map-side; totals broadcast back") {
    // the corpus collapses to (type, hour) BEFORE any window — the
    // shuffle carries one row per cell — and the per-type totals frame
    // re-joins as a broadcast
    val p = plan("events_changepoint_cusum")
    assert(p.contains("partial_"), s"no map-side combine:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"), s"totals join not broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && bnljCount(p) == 0,
      s"unkeyed join in CUSUM plan:\n${p.take(2000)}")
  }

  test("Theil-Sen: no pair join at all — one scan, fused per-group median") {
    // the O(span²) pair stage runs INSIDE graft_theilsen_median over
    // each group's collected series (r14): the plan must carry the
    // fused call, exactly one corpus scan, a map-side combine on the
    // hourly pre-agg, and NO join of any kind (the old shape's pair
    // self-join and min-hour scalar BNLJ are both gone)
    val p = plan("events_theilsen_slope")
    assert(p.contains("graft_theilsen_median"), s"fused median missing:\n${p.take(2000)}")
    assert(p.contains("partial_"), s"no map-side combine:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"),
      s"unexpected join in fused plan:\n${p.take(2500)}")
    // the AQE executed-plan string repeats the scan inside materialized
    // ShuffleQueryStage sections — the old pair-join shape carried 4
    // distinct scans (2 per self-join side), so < 3 pins the collapse
    assert("Scan parquet".r.findAllIn(p).size <= 2,
      s"more than one corpus scan:\n${p.take(2500)}")
  }

  test("skyline: the size-frontier frame joins back as a broadcast") {
    // per-size minima (≤50 rows) + suffix-min, broadcast back onto the
    // parts scan — the oracle's O(n²) NOT EXISTS never appears
    val p = plan("skyline_parts")
    assert(p.contains("BroadcastHashJoin"), s"frontier join not broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && bnljCount(p) == 0,
      s"unkeyed join in skyline plan:\n${p.take(2000)}")
  }

  test("interval overlap: bin-keyed equi-join, never a range/theta join") {
    // intervals explode to day bins and join peak hours BY KEY; the
    // only BNLJ is the 1-row corpus-max-ts scalar. A range join would
    // surface as a second BNLJ or a cartesian.
    val p = plan("join_interval_overlap")
    assert(!p.contains("CartesianProduct"), s"cartesian in overlap plan:\n${p.take(2500)}")
    assert(bnljCount(p) <= 1, s"range join fell back to nested loop:\n${p.take(2500)}")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"no keyed join on the bin:\n${p.take(2000)}")
  }

  test("table fingerprint: rollup partial-aggregates map-side, no join anywhere") {
    // the whole check must be one map-side-combinable agg over the scan
    // (Expand for the ROLLUP) — any join would mean the hash stopped
    // being a pure row function
    val p = plan("lakehouse_table_fingerprint")
    assert(p.contains("Expand"), s"no rollup expand:\n${p.take(2000)}")
    assert(p.contains("partial_"), s"no map-side combine:\n${p.take(2000)}")
    assert(!p.contains("Join"), s"unexpected join in fingerprint plan:\n${p.take(2000)}")
  }

  test("k-anonymity audit is a single aggregation — no join anywhere") {
    val p = plan("privacy_k_anonymity")
    assert(p.contains("partial_"), s"no map-side combine:\n${p.take(2000)}")
    assert(!p.contains("Join"), s"unexpected join in k-anonymity plan:\n${p.take(2000)}")
  }

  test("clustering coefficient: wedge and closure joins stay keyed") {
    val p = plan("graph_clustering_coeff")
    assert(!p.contains("CartesianProduct") && bnljCount(p) == 0,
      s"unkeyed join in clustering-coeff plan:\n${p.take(2500)}")
  }

  test("PSI drift: the smoothing grid crosses only tiny broadcast frames") {
    // the source × bucket grid comes from crossing the |sources| and
    // ≤20-bucket frames (≤2 broadcast nested loops over tiny inputs);
    // the cell-count join back is KEYED on (source, bucket)
    val p = plan("stats_psi_sources")
    assert(!p.contains("CartesianProduct"), s"cartesian in PSI plan:\n${p.take(2500)}")
    assert(bnljCount(p) <= 2, s"grid cross not tiny-frame-only:\n${p.take(2500)}")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"cell join not keyed:\n${p.take(2000)}")
  }

  test("autocorrelation: pre-agg exchange reused across consumers, scans bounded") {
    // four consumers (totals, denominator, both lag-join sides) read
    // the SAME hourly pre-agg: AQE must reuse the exchange so the
    // residual corpus scans stay ≤3 (measured faster than an eager
    // localCheckpoint at every declared scale — see the query scaladoc)
    val p = plan("events_autocorrelation")
    val fin = p.split("== Initial Plan ==")(0)
    assert(fin.contains("ReusedExchange"),
      s"pre-agg exchange not reused:\n${fin.take(2500)}")
    assert("Scan parquet".r.findAllIn(fin).size <= 3,
      s"too many corpus scans:\n${fin.take(2500)}")
    assert(!p.contains("CartesianProduct"), s"cartesian in ACF plan:\n${p.take(2500)}")
    assert(bnljCount(p) <= 4,
      s"non-scalar BNLJ (only the 1-row min-hour scalar may cross, once per consumer):\n${p.take(2500)}")
  }

  test("RAKE: token windows partition by doc; word-score join keyed; no nested loops") {
    val p = plan("text_rake_keywords")
    assert(!p.contains("CartesianProduct") && bnljCount(p) == 0,
      s"unkeyed join in RAKE plan:\n${p.take(2500)}")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"word-score join not keyed:\n${p.take(2000)}")
  }

  test("active users: bounded x7 cover explode, day-keyed joins, one scalar broadcast") {
    // WAU must come from the bin-keyed expansion (explode + groupBy),
    // never a day-range theta join; the only BNLJ is the 1-row
    // min/max-day bounds scalar
    val p = plan("events_active_users")
    assert(!p.contains("CartesianProduct"), s"cartesian in DAU/WAU plan:\n${p.take(2500)}")
    assert(bnljCount(p) <= 1, s"range join fell back to nested loop:\n${p.take(2500)}")
    val fin = p.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(fin).size <= 3,
      s"too many corpus scans:\n${fin.take(2000)}")
  }

  test("assortativity: one corpus scan, edge/degree exchanges reused, no nested loops") {
    val p = plan("graph_assortativity")
    assert(!p.contains("CartesianProduct") && bnljCount(p) == 0,
      s"unkeyed join in assortativity plan:\n${p.take(2500)}")
    val fin = p.split("== Initial Plan ==")(0)
    assert(fin.contains("ReusedExchange"), s"edge exchange not reused:\n${fin.take(2000)}")
    assert("Scan parquet".r.findAllIn(fin).size <= 1,
      s"corpus scanned more than once:\n${fin.take(2000)}")
  }

  test("embedding outliers: 64-row dim-stats frame broadcasts back onto the vectors") {
    val p = plan("emb_outliers")
    assert(p.contains("BroadcastHashJoin"), s"stats join not broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && bnljCount(p) == 0,
      s"unkeyed join in outliers plan:\n${p.take(2500)}")
  }

  test("ABC classes: the only unpartitioned window is the bucket-offsets prefix sum") {
    // bucketedPrefixSum's contract, mirroring the gini rank pin: the
    // per-part running sum is PARTITIONED on the value bucket; the lone
    // SinglePartition window sums _bs over the occupied-bucket frame
    // (KB-sized at any SF). The two scalar-total crossJoins broadcast
    // 1-row frames.
    val df = Queries.registry("orders_abc_classes").fn(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val windows = p.split("\n").filter(_.contains("Window ["))
    assert(windows.exists(l => l.contains("sum(rev") && l.contains("], [_bkt#")),
      s"running sum not bucket-partitioned:\n${windows.mkString("\n").take(1500)}")
    val unpartitioned = windows.filterNot(l => l.contains("], [_bkt#"))
    assert(unpartitioned.forall(_.contains("sum(_bs")),
      s"unexpected unpartitioned window over a non-bucket frame:\n${unpartitioned.mkString("\n")}")
    assert(!p.contains("CartesianProduct"), s"cartesian in ABC plan:\n${p.take(2500)}")
    assert(bnljCount(p) <= 2,
      s"non-scalar nested loop (only the 1-row total may cross, twice):\n${p.take(2500)}")
  }

  test("type entropy: one corpus scan, map-side partial, no joins at all") {
    val p = plan("events_type_entropy")
    val fin = p.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(fin).size <= 1,
      s"corpus scanned more than once:\n${fin.take(2000)}")
    assert(p.contains("partial_"), s"no map-side partial agg:\n${p.take(2000)}")
    assert(!p.contains("Join"), s"unexpected join in entropy plan:\n${p.take(2000)}")
  }

  test("MoM growth: prior-period joins broadcast the month frame, agg exchange reused") {
    val p = plan("date_mom_growth")
    val fin = p.split("== Initial Plan ==")(0)
    assert("BroadcastHashJoin".r.findAllIn(fin).size >= 2,
      s"calendar self-joins not broadcast:\n${fin.take(2000)}")
    assert(fin.contains("ReusedExchange"),
      s"month pre-agg exchange not reused across the three consumers:\n${fin.take(2000)}")
    assert(!p.contains("CartesianProduct") && bnljCount(p) == 0,
      s"unkeyed join in MoM plan:\n${p.take(2500)}")
  }

  test("referential integrity: totals and orphans from ONE probe per edge, no scalar crosses") {
    // each FK edge = child key-collapse → one keyed probe → one agg;
    // the rewrite away from anti-join + total-crossJoin halved the
    // scans (16 → 13) and removed all 7 scalar BNLJ crosses
    val p = plan("quality_referential_integrity")
    val fin = p.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") && bnljCount(p) == 0,
      s"scalar cross crept back into the audit plan:\n${p.take(2500)}")
    assert("Scan parquet".r.findAllIn(fin).size <= 14,
      s"child tables scanned more than once per edge:\n${fin.take(2000)}")
    assert(fin.contains("BroadcastHashJoin"),
      s"dimension parents not broadcast:\n${fin.take(2000)}")
  }

  test("survival KM: corpus collapses per user before the day-frame windows") {
    val p = plan("events_survival_km")
    val fin = p.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(fin).size <= 2,
      s"events scanned more than twice (per-user agg + max-day scalar):\n${fin.take(2000)}")
    assert(p.contains("partial_"), s"no map-side partial agg:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), s"cartesian in KM plan:\n${p.take(2500)}")
    assert(bnljCount(p) <= 1,
      s"non-scalar nested loop (only the 1-row max-day may cross):\n${p.take(2500)}")
  }

  test("HITS: per-half-step keyed joins only; checkpoints bound the iteration lineage") {
    // each half-step is edge ⋈ score (keyed) + groupBy, checkpointed at
    // the RAW sum frame (r13: checkpointing downstream of the rescale
    // re-ran the edge join twice per half-step — the 100× superlinear
    // row); the rescale is a projection over the checkpoint, so the
    // final plan is TakeOrdered over checkpoint-scan + ONE 1-row max
    // broadcast cross (the scalar rescale — the perplexity-pin class),
    // and no data×data nested loop anywhere
    val p = plan("graph_hits_parts")
    assert(!p.contains("CartesianProduct") && bnljCount(p) <= 1,
      s"unkeyed join in HITS plan:\n${p.take(2500)}")
    assert(p.contains("IdentityBroadcastMode"),
      s"the one allowed cross must be the 1-row rescale broadcast:\n${p.take(2000)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k not a TakeOrdered:\n${p.take(2000)}")
  }

  test("perplexity buckets: LM joins keyed, rank bucket-partitioned, one scalar cross") {
    val p = plan("text_perplexity_buckets")
    assert(!p.contains("CartesianProduct"), s"cartesian in ppl plan:\n${p.take(2500)}")
    assert(bnljCount(p) <= 1,
      s"non-scalar nested loop (only the 1-row doc count may cross):\n${p.take(2500)}")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"LM score join not keyed:\n${p.take(2000)}")
    // the in-bucket rank window must carry the bucket partition spec
    val windows = p.split("\n").filter(_.contains("Window ["))
    assert(windows.exists(l => l.contains("row_number()") && l.contains("], [_bkt#")),
      s"rank window not bucket-partitioned:\n${windows.mkString("\n").take(1500)}")
  }

  test("EMD: corpus collapses to the source-bin grid; crosses are grid/scalar frames only") {
    val p = plan("stats_emd_sources")
    val fin = p.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(fin).size <= 6,
      s"documents scanned too many times:\n${fin.take(2000)}")
    assert(!p.contains("CartesianProduct"), s"cartesian in EMD plan:\n${p.take(2500)}")
    assert(bnljCount(p) <= 4,
      s"a corpus-sized frame fell into a nested loop (only min/max, n_all scalars and the 64-bin grid may cross):\n${p.take(2500)}")
    assert(p.contains("partial_"), s"no map-side partial for the cell agg:\n${p.take(2000)}")
  }

  test("hard negatives: anchor batch broadcasts, per-anchor top-k is a partitioned window") {
    val p = plan("sim_hard_negatives")
    assert(!p.contains("CartesianProduct"), s"cartesian in mining plan:\n${p.take(2500)}")
    assert(bnljCount(p) <= 1,
      s"non-anchor frame fell into a nested loop:\n${p.take(2500)}")
    val windows = p.split("\n").filter(_.contains("Window ["))
    assert(windows.exists(l => l.contains("row_number()") && l.contains("], [query_id#")),
      s"top-k window not anchor-partitioned:\n${windows.mkString("\n").take(1500)}")
  }

  test("denorm checksum: 6-way star stays keyed; fingerprint partial-aggregates map-side") {
    val p = plan("lakehouse_denorm_checksum")
    assert(!p.contains("CartesianProduct") && bnljCount(p) == 0,
      s"unkeyed join in star flatten:\n${p.take(2500)}")
    assert(p.contains("BroadcastHashJoin"),
      s"small dims not broadcast:\n${p.take(2000)}")
    assert(p.contains("partial_"), s"checksum not map-side combined:\n${p.take(2000)}")
  }

  test("bootstrap CI: explode parallelized by the pre-fan-out repartition; 32-group combine") {
    // the x32 explode must sit above a repartition of the NARROW
    // projection (16 bytes/row buys 32 md5s/row of parallelism —
    // 28 s -> 3.5 s at 10x on a single-split corpus), and the replica
    // means must combine map-side into the 32-row frame
    val p = plan("stats_bootstrap_ci")
    assert(p.contains("Exchange RoundRobinPartitioning") ||
      p.contains("Exchange hashpartitioning"),
      s"no pre-explode repartition:\n${p.take(2000)}")
    assert(p.contains("partial_"), s"replica means not map-side combined:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), s"cartesian in bootstrap plan:\n${p.take(2500)}")
    assert(bnljCount(p) <= 2,
      s"non-scalar nested loop (only the two 1-row CI bounds may cross):\n${p.take(2500)}")
  }

  test("label propagation: per-round keyed joins, node-partitioned mode pick, no nested loops") {
    val p = plan("graph_label_propagation")
    assert(!p.contains("CartesianProduct") && bnljCount(p) == 0,
      s"unkeyed join in LPA plan:\n${p.take(2500)}")
  }

  test("repeat payments: self-join keyed on (customer, amount band), never a theta join") {
    val df = Queries.registry("quality_repeat_payments").fn(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && bnljCount(p) == 0,
      s"pair join fell into a nested loop:\n${p.take(2500)}")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"),
      s"pair join not keyed:\n${p.take(2000)}")
  }

  test("gap islands: one corpus scan; all windows user-partitioned") {
    val df = Queries.registry("window_gap_islands").fn(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val fin = p.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(fin).size <= 1,
      s"events scanned more than once:\n${fin.take(2000)}")
    val windows = p.split("\n").filter(_.contains("Window ["))
    assert(windows.nonEmpty && windows.forall(_.contains("], [user_id#")),
      s"streak window not user-partitioned:\n${windows.mkString("\n").take(1500)}")
    assert(!p.contains("CartesianProduct") && bnljCount(p) == 0,
      s"unexpected join shape:\n${p.take(2500)}")
  }

  test("dow-hour heatmap: one scan to the checkpointed 168-cell grid, marginals broadcast back") {
    // the cell grid is localCheckpoint'ed so its FOUR consumers (cells
    // + three marginals) never re-scan the corpus: the final plan reads
    // the 168-row checkpoint, zero parquet scans
    val p = plan("events_dow_hour_heatmap")
    val fin = p.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(fin).size <= 1,
      s"events re-scanned per marginal:\n${fin.take(2000)}")
    assert(!p.contains("CartesianProduct"), s"cartesian in heatmap plan:\n${p.take(2500)}")
    assert(bnljCount(p) <= 1,
      s"non-scalar nested loop (only the 1-row total may cross):\n${p.take(2500)}")
  }

  test("HHI: supplier collapse first, dim attaches broadcast, no nested loops") {
    val p = plan("stats_hhi_suppliers")
    assert(p.contains("BroadcastHashJoin"),
      s"supplier/nation dims not broadcast:\n${p.take(2000)}")
    assert(p.contains("partial_"), s"revenue collapse not map-side combined:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && bnljCount(p) == 0,
      s"unkeyed join in HHI plan:\n${p.take(2500)}")
  }

  test("centroid drift: one explode scan to the label-dim cells, no joins") {
    val p = plan("emb_centroid_drift")
    val fin = p.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(fin).size <= 1,
      s"embeddings scanned more than once:\n${fin.take(2000)}")
    assert(p.contains("partial_"), s"cell agg not map-side combined:\n${p.take(2000)}")
    assert(!p.contains("Join"), s"unexpected join in drift plan:\n${p.take(2000)}")
  }

  test("feature snapshot: one customer collapse, cutoff scalar broadcast, TakeOrdered top-k") {
    val p = plan("features_customer_snapshot")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k not a TakeOrdered:\n${p.take(2000)}")
    assert(p.contains("partial_"), s"feature agg not map-side combined:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), s"cartesian in snapshot plan:\n${p.take(2500)}")
    assert(bnljCount(p) <= 1,
      s"non-scalar nested loop (only the 1-row cutoff may cross):\n${p.take(2500)}")
  }

  test("cluster audit: keyed joins only through the minhash/CC machinery") {
    val p = plan("pipeline_cluster_audit")
    assert(!p.contains("CartesianProduct") && bnljCount(p) == 0,
      s"unkeyed join in audit plan:\n${p.take(2500)}")
  }

  test("SLA compliance: fact-fact join keyed, order collapse map-side combined") {
    val p = plan("orders_sla_compliance")
    assert(!p.contains("CartesianProduct") && bnljCount(p) == 0,
      s"unkeyed join in SLA plan:\n${p.take(2500)}")
    assert(p.contains("partial_"), s"order collapse not map-side combined:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"order join not keyed:\n${p.take(2000)}")
  }

  test("max drawdown: corpus collapses to the day frame before the running-peak window") {
    val p = plan("stats_max_drawdown")
    val fin = p.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(fin).size <= 1,
      s"orders scanned more than once:\n${fin.take(2000)}")
    assert(p.contains("partial_"), s"day collapse not map-side combined:\n${p.take(2000)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"worst-day pick not a TakeOrdered:\n${p.take(2000)}")
  }

  test("local bridges: wedge join keyed, bridge status one left probe, no scalar crosses") {
    val p = plan("graph_local_bridges")
    assert(!p.contains("CartesianProduct") && bnljCount(p) == 0,
      s"unkeyed join in bridges plan:\n${p.take(2500)}")
  }

  test("inter-arrival: one scan, gap window user-partitioned") {
    val df = Queries.registry("events_inter_arrival").fn(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val fin = p.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(fin).size <= 1,
      s"events scanned more than once:\n${fin.take(2000)}")
    val windows = p.split("\n").filter(_.contains("Window ["))
    assert(windows.nonEmpty && windows.forall(_.contains("], [user_id#")),
      s"gap window not user-partitioned:\n${windows.mkString("\n").take(1500)}")
  }

  test("cosine AUC: offset pair joins keyed; rank window bucket-partitioned") {
    val df = Queries.registry("emb_cosine_auc").fn(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && bnljCount(p) == 0,
      s"pair join fell into a nested loop:\n${p.take(2500)}")
    val windows = p.split("\n").filter(_.contains("Window ["))
    assert(windows.exists(l => l.contains("row_number()") && l.contains("], [_bkt#")),
      s"rank window not bucket-partitioned:\n${windows.mkString("\n").take(1500)}")
  }

  test("top movers: star joins keyed/broadcast, change window nation-partitioned, TakeOrdered") {
    val p = plan("date_top_movers")
    assert(!p.contains("CartesianProduct") && bnljCount(p) == 0,
      s"unkeyed join in movers plan:\n${p.take(2500)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 not a TakeOrdered:\n${p.take(2000)}")
    val windows = p.split("\n").filter(_.contains("Window ["))
    assert(windows.nonEmpty && windows.forall(_.contains("], [n_name#")),
      s"lag window not nation-partitioned:\n${windows.mkString("\n").take(1500)}")
  }

  test("median/mode: one scan to the checkpointed value-count frame; windows type-partitioned") {
    val df = Queries.registry("agg_median_mode").fn(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val fin = p.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(fin).size <= 1,
      s"events re-scanned per statistic (value-count frame must checkpoint):\n${fin.take(2000)}")
    val windows = p.split("\n").filter(_.contains("Window ["))
    assert(windows.nonEmpty && windows.forall(_.contains("], [event_type#")),
      s"order-statistic window not type-partitioned:\n${windows.mkString("\n").take(1500)}")
    assert(!p.contains("CartesianProduct") && bnljCount(p) == 0,
      s"unkeyed join in median/mode plan:\n${p.take(2500)}")
  }

  test("seasonality index: one scan, 12-row frame, one scalar cross") {
    val p = plan("date_seasonality_index")
    val fin = p.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(fin).size <= 1,
      s"orders scanned more than once:\n${fin.take(2000)}")
    assert(p.contains("partial_"), s"month agg not map-side combined:\n${p.take(2000)}")
    assert(bnljCount(p) <= 1,
      s"non-scalar nested loop (only the 1-row totals may cross):\n${p.take(2500)}")
  }

  test("flesch readability: single codegen scan, no joins") {
    val p = plan("text_readability_flesch")
    val fin = p.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(fin).size <= 1,
      s"documents scanned more than once:\n${fin.take(2000)}")
    assert(!p.contains("Join"), s"unexpected join in flesch plan:\n${p.take(2000)}")
    assert(p.contains("partial_"), s"source agg not map-side combined:\n${p.take(2000)}")
  }

  test("gopher rules: all five counters from ONE codegen scan, stack unpivot, no joins") {
    val p = plan("pipeline_gopher_rules")
    val fin = p.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(fin).size <= 1,
      s"documents re-scanned per rule:\n${fin.take(2000)}")
    assert(!p.contains("Join"), s"unexpected join in gopher plan:\n${p.take(2000)}")
    assert(p.contains("partial_"), s"rule counters not map-side combined:\n${p.take(2000)}")
  }

  test("fano factor: two-stage aggregation, one scan, no joins") {
    val p = plan("stats_fano_factor")
    val fin = p.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(fin).size <= 1,
      s"events scanned more than once:\n${fin.take(2000)}")
    assert(!p.contains("Join"), s"unexpected join in fano plan:\n${p.take(2000)}")
    assert(p.contains("partial_"), s"hour agg not map-side combined:\n${p.take(2000)}")
  }

  test("runs test: lag window runs on the post-agg hourly frame, one corpus scan") {
    // the Window.orderBy("h") is SinglePartition by construction, but it
    // consumes the hour-grain aggregate (span-bounded: one row per hour
    // of corpus time, ~720 at every SF) — the corpus itself is reduced
    // by a partial-agg groupBy first.
    val p = plan("stats_runs_test")
    val fin = p.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(fin).size <= 1,
      s"corpus scanned more than once:\n${fin.take(2000)}")
    assert(p.contains("partial_"), s"no map-side partial agg:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), s"cartesian in runs plan:\n${p.take(2500)}")
    assert(bnljCount(p) <= 1,
      s"non-scalar nested loop (only the 1-row totals may cross):\n${p.take(2500)}")
  }
}
