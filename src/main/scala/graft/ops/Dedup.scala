package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Deduplication family for training-data pipelines (extension surface).
  *
  * Scale design: every variant is generate-candidates-then-verify —
  * candidate pairs come from equality joins on compact keys (fingerprint,
  * MinHash band, SimHash band, shingle), never from a cross join. At
  * 100 TB the shuffles are all on those keys; skew on a hot shingle/band
  * is bounded by blocking (source) and AQE skew splitting.
  */
object Dedup {

  /** Exact duplicates: hash-groupBy on the normalized-text fingerprint.
    * Returns one row per duplicate *group* (n > 1) with the canonical
    * (minimum) doc id.
    */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.select(TextOps.fingerprint(col("text")).as("fp"), col("doc_id"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n"), min("doc_id").as("canonical_id"))
      .filter(col("n") > 1)

  /** Distinct lowercased tokens per doc: (doc_id, w). */
  private def tokenRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(array_distinct(TextOps.tokens(col("text")))).as("w"))
      .filter(col("w") =!= "")

  /** MD5-keyed MinHash signature over 3-gram word shingles, k hashes as
    * k columns `m0..m{k-1}`. Shingles (not unigrams) are the hashing
    * unit: the shingle space is |vocab|³, so unrelated docs share few
    * units even over a small vocabulary. Hash family:
    * md5(seed ‖ '#' ‖ shingle) — portable (any engine with md5
    * reproduces it bit-for-bit), which is what makes the oracle possible.
    * The murmur variant below is the fast path.
    */
  def minhashSignatures(docs: DataFrame, k: Int, n: Int = 3): DataFrame =
    sigsFromShingles(shingleRows(docs, n), k)

  /** Signature aggregation over an existing shingle frame — lets callers
    * that also need the shingles for a verify step (ngram Jaccard)
    * compute them ONCE.
    */
  private def sigsFromShingles(sh: DataFrame, k: Int): DataFrame = {
    require(k % 2 == 0, "k must be even (two 64-bit keys per md5)")
    // all k keys in ONE fused call per shingle row, emitted as flipped
    // big-endian LONGS so the per-doc min aggregation is a mutable-
    // buffer HashAggregate with a map-side partial — min(string) forced
    // a Sort + SortAggregate over the whole ~50M-row shingle frame on
    // both sides of the exchange (see MinhashLongsUtil for the order
    // isomorphism and the measured history, incl. round 13's reverted
    // string-array fusion). The hex string signature columns are
    // recovered bit-for-bit AFTER aggregation (docs-sized frame);
    // [[sigsFromShinglesBuiltin]] keeps the md5/substring chain as the
    // spec-gated semantics reference, so every downstream band/oracle
    // contract is untouched.
    val mins = (0 until k).map(i =>
      min(element_at(col("__mk"), i + 1)).as(s"__ml$i"))
    val hexed = (0 until k).map(i =>
      lower(lpad(hex(expr(s"__ml$i ^ ${Long.MinValue}L")), 16, "0")).as(s"m$i"))
    sh.withColumn("__mk", graft.functions.MinhashLongsExpr(col("sh"), k))
      .groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .select(col("doc_id") +: hexed: _*)
  }

  /** The per-column md5/substring chain [[sigsFromShingles]] fuses —
    * kept as the semantics reference (DedupSpec gates signature
    * equality; the piiScrubBuiltin discipline). Each md5 yields two
    * independent 64-bit (16-hex-char) keys — halving the hashing cost
    * vs one digest per hash function is the shared contract.
    */
  private[graft] def sigsFromShinglesBuiltin(sh: DataFrame, k: Int): DataFrame = {
    require(k % 2 == 0, "k must be even (two 64-bit keys per md5)")
    val aggs = (0 until k).map { i =>
      val digest = md5(concat(lit(s"${i / 2}#"), col("sh")))
      val part = substring(digest, 1 + (i % 2) * 16, 16)
      min(part).as(s"m$i")
    }
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Frequent-band guard: drop (band, key) groups larger than `cap`
    * before a band join (the batch-vs-corpus paths; pairs within one
    * frame come from [[bandPairs]]). A boilerplate band (navigation
    * chrome, a shared header, an empty doc) otherwise degenerates the
    * join to O(hot²) candidate pairs — THE known skew cliff of banded LSH at
    * 100 TB. Implemented as a count-over-window filter (the SQL
    * `QUALIFY count(*) OVER (PARTITION BY band, key) <= cap`, which is
    * literally how TextSql's oracles mirror it): the banded frame is
    * evaluated ONCE, and the window's (band, key) shuffle is the same
    * partitioning the downstream self-join needs, so the guard adds no
    * extra pass over the expensive signature subtree. Docs in a dropped
    * band still pair through their other bands; a group that collides
    * ONLY via a >cap boilerplate band is exactly the case the guard
    * exists to refuse. `cap <= 0` disables.
    */
  private[graft] def dropHotBands(banded: DataFrame, cap: Int): DataFrame =
    if (cap <= 0) banded
    else banded
      .withColumn("band_freq", count(lit(1)).over(Window.partitionBy("band", "key")))
      .filter(col("band_freq") <= cap)
      .drop("band_freq")

  /** Candidate pairs of a banded frame (`band`, `key`, `doc_id` plus
    * `payload` columns): every two docs sharing a (band, key) group of
    * at most `cap` members, as `l`/`r` structs of `doc_id` and the
    * payload with `l.doc_id < r.doc_id` — the [[dropHotBands]] guard
    * and the band self-join in one pass. Each group is collected once
    * and paired in-row, so the group frequency is computed once rather
    * than on both sides of a self-join, and a hot group is dropped by
    * its size before any pair exists. A doc holds one key per band, so
    * a group's doc ids are distinct and the pairs are exactly the
    * self-join's.
    */
  private def bandPairs(banded: DataFrame, cap: Int, payload: String*): DataFrame = {
    val members = banded.groupBy("band", "key")
      .agg(collect_list(struct((col("doc_id") +: payload.map(col)): _*)).as("ids"))
    val n = size(col("ids"))
    members.filter(if (cap <= 0) n >= 2 else n >= 2 && n <= cap)
      .select(explode(col("ids")).as("l"), col("ids"))
      .select(col("l"), explode(col("ids")).as("r"))
      .filter(col("l.doc_id") < col("r.doc_id"))
  }

  /** Default frequent-band cap, shared by every banded path and its
    * oracle SQL (TextSql.bandCap quotes this constant into the QUALIFY
    * filters of dedupMinhash / dedupSimhash / the Jaccard prefilter).
    */
  val DefaultBandCap = 128

  /** The banded-MD5-MinHash knobs shared by the Scala operators
    * (as their parameter DEFAULTS) and the SQL oracle chain
    * (TextSql.minhashSigBandCtes derives its signature/band CTEs from
    * these). A change on either side would silently drift every
    * hash-gated MinHash query AND the funnel that composes them, so
    * there is deliberately ONE definition.
    */
  val OracleMinhashK = 8
  val OracleMinhashBands = 4

  /** The winnowing knobs shared the same way (winnowRows/winnowPairs
    * defaults, TextSql.dedupWinnow/dedupFunnel defaults, and the
    * explicit pipeline_dedup_funnel registration).
    */
  val WinnowW = 4
  val WinnowMinShared = 2L

  /** LSH candidate pairs from banded MD5 MinHash: k hashes in `bands`
    * bands of k/bands rows; docs sharing any full band collide.
    * Bands hotter than `maxBandFreq` are dropped (see [[dropHotBands]]).
    * Output: (a, b) doc-id pairs, a < b, distinct.
    */
  def minhashPairs(docs: DataFrame, k: Int = OracleMinhashK,
      bands: Int = OracleMinhashBands,
      maxBandFreq: Int = DefaultBandCap): DataFrame =
    minhashPairsFromShingles(shingleRows(docs, 3), k, bands, maxBandFreq)

  /** Banded-LSH pair generation from an existing shingle frame (see
    * [[minhashPairs]] for the contract).
    */
  /** (doc_id, band, key) band keys from a signature frame — the LSH
    * blocking keys shared by pair generation and the streaming ingest
    * index.
    */
  private[graft] def bandKeys(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val r = k / bands
    // ONE projection + posexplode over ONE sigs subtree (pos ≡ the old
    // lit(band)), NOT a bands-way unionAll of per-band selects: the
    // union re-expanded the ENTIRE signature pipeline (scan + shingle
    // Generate + digest + two-phase agg) once per band in the plan —
    // Spark shares no logical subtrees — so every banded consumer paid
    // bands× the scan/digest/agg work (plan-verified: 4 parallel
    // Generate+HashAggregate+Exchange branches under a Union in
    // plans/r14/dedup_minhash_before_sess2.txt). Row multiset is
    // identical: (doc_id, b, key_b) for b = 0..bands-1 either way.
    val keys = (0 until bands).map { b =>
      md5(concat_ws("|", (b * r until (b + 1) * r).map(i => col(s"m$i")): _*))
    }
    sigs.select(col("doc_id"), posexplode(array(keys: _*)).as(Seq("band", "key")))
  }

  private[graft] def minhashPairsFromShingles(sh: DataFrame, k: Int, bands: Int,
      maxBandFreq: Int): DataFrame = {
    bandPairs(bandKeys(sigsFromShingles(sh, k), k, bands), maxBandFreq)
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b")).distinct()
  }

  /** Fast-path MinHash signature via the custom 64-bit murmur3
    * expression (codegen'd, no md5-string materialization). Same banding
    * contract as [[minhashPairs]]; not oracle-expressible (DuckDB has no
    * murmur3-64) — verified in ScalaTest against the md5 variant's
    * candidate quality instead.
    */
  def minhashPairsFast(docs: DataFrame, k: Int = 16, bands: Int = 4,
      maxBandFreq: Int = DefaultBandCap): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val r = k / bands
    val aggs = (0 until k).map(i =>
      min(GraftFunctions.murmur64(concat(lit(s"$i#"), col("sh")))).as(s"m$i"))
    val sigs = shingleRows(docs, 3).groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    // one posexplode over one sigs subtree, as in [[bandKeys]]: a
    // bands-way unionAll would re-run the signature pipeline per band
    val keys = (0 until bands).map { b =>
      GraftFunctions.murmur64(concat_ws("|",
        (b * r until (b + 1) * r).map(i => col(s"m$i").cast("string")): _*))
    }
    bandPairs(sigs.select(col("doc_id"), posexplode(array(keys: _*)).as(Seq("band", "key"))),
        maxBandFreq)
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b")).distinct()
  }

  /** 64-bit SimHash over weighted token hashes via the single-pass
    * custom aggregator (one 64-long buffer per doc instead of exploding
    * 64 rows per token). bit_count(xor) gives Hamming distance for the
    * verify step.
    *
    * Two hash families, same contract as the MinHash pair:
    *  - `portable = true`: 60-bit keys from md5 hex (any engine with md5
    *    reproduces them — this is what makes the DuckDB oracle possible);
    *    the top 4 simhash bits are always clear, a negligible loss for
    *    near-dup banding.
    *  - `portable = false` (fast path): the codegen'd murmur3-64
    *    expression, no hex-string materialization.
    */
  def simhash(docs: DataFrame, portable: Boolean = false): DataFrame = {
    val tokenHash =
      if (portable) GraftFunctions.md5Hash60(col("w"))
      else GraftFunctions.murmur64(col("w"))
    docs.select(col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
      .withColumn("h", tokenHash)
      .groupBy("doc_id")
      .agg(graft.functions.SimHashAggregator.simhash(col("h"), col("cnt")).as("simhash"))
  }

  /** Near-dup candidates: same 16-bit SimHash band, verified by Hamming
    * distance <= maxHamming. With maxHamming <= 3 and 4 bands, banding
    * is exhaustive by pigeonhole (3 differing bits touch at most 3 of
    * the 4 bands) — the oracle mirrors the banding plus the
    * frequent-band guard (a band hotter than `maxBandFreq` is dropped on
    * BOTH sides, so the compare stays deterministic even on boilerplate
    * corpora).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      portable: Boolean = false, maxBandFreq: Int = DefaultBandCap): DataFrame = {
    val sh = simhash(docs, portable)
    // one posexplode over one simhash subtree, as in [[bandKeys]]: a
    // 4-way unionAll would re-run the token explode and both aggregates
    // per band
    val keys = (0 until 4).map(b =>
      shiftright(col("simhash"), b * 16).bitwiseAND(0xffffL))
    bandPairs(sh.select(col("doc_id"), col("simhash"),
        posexplode(array(keys: _*)).as(Seq("band", "key"))), maxBandFreq, "simhash")
      .filter(bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))) <= maxHamming)
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b")).distinct()
  }

  /** Word n-gram shingles per doc, distinct: (doc_id, source, sh).
    * `source` is the blocking key for Jaccard; frames without one get an
    * empty-string block so MinHash callers aren't coupled to it.
    * Guard short docs explicitly — `sequence(0, -1)` would generate a
    * DESCENDING sequence, not an empty one.
    */
  def shingleRows(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"),
        (if (docs.columns.contains("source")) col("source") else lit("")).as("source"),
        explode(graft.functions.ShinglesExpr(col("text"), n)).as("sh"))

  /** Exact n-gram Jaccard near-dup pairs, candidate-filtered by banded
    * MinHash LSH: [[minhashPairs]] (banded equality joins + the
    * frequent-band cap) proposes (a, b), then the exact Jaccard is
    * computed ONLY for candidates, by joining the pair list back against
    * the shingle rows of each side. Every join is keyed — doc id or
    * (doc id, shingle) — so a hot source/shingle never degenerates to
    * within-block all-pairs; the cost model is the LSH one
    * (O(Σ band-group²), groups capped) plus O(candidates · shingles).
    * Returns (a, b, jaccard) with jaccard >= threshold; recall is that
    * of the MinHash bands (a true-Jaccard pair colliding in no band is
    * not proposed — the standard LSH trade, measured in DedupSpec).
    *
    * Threshold semantics: the >= filter is applied to the 6-decimal
    * ROUNDED ratio (a pair at true Jaccard threshold − 5e-7 rounds up
    * into the output). Deliberate: the oracle rounds identically before
    * its own filter, and a filter-then-round would hash-compare floats
    * the two engines compute to different ulps. Same contract in
    * [[containmentPairs]].
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.5,
      k: Int = 8, bands: Int = 4, maxBandFreq: Int = DefaultBandCap): DataFrame = {
    // the shingle frame feeds two consumers (minhash signatures, the
    // per-doc set frame). Deliberately NOT persisted: the exploded
    // frame is the corpus's largest intermediate, and measured at 10×
    // sf0.1 a MEMORY_AND_DISK persist costs 40% MORE than re-running
    // the codegen'd tokenize+explode scan per consumer (cache write +
    // serialization + lost codegen fusion outweigh the recompute).
    val sh = shingleRows(docs, n)
    val cand = minhashPairsFromShingles(sh, k, bands, maxBandFreq)
    // Exact verify: each candidate pair joins its two per-doc shingle
    // SETS (shingleRows is distinct per doc) and intersects IN-ROW via
    // array_intersect. The former shape — cand ⋈ (a → shingles) then a
    // (b, sh)-keyed shuffle join and a groupBy(a, b) count — carried
    // candidates × shingles-per-doc ROWS through two shuffles; at the
    // 100× probe corpus that was the dominant term (302 s in-sweep,
    // 10.5× the 30× value on 3.33× data — the "Jaccard verify" wall
    // SCALE.md's 100× table predicted). In-row intersection makes the
    // verify candidates-sized: two keyed joins, zero pair×shingle
    // shuffle. Same pairs, same 6-decimal rounding, same oracle.
    val sets = sh.groupBy("doc_id").agg(collect_list("sh").as("shs"))
    cand
      .join(sets.select(col("doc_id").as("a"), col("shs").as("sa")), "a")
      .join(sets.select(col("doc_id").as("b"), col("shs").as("sb")), "b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      // inter > 0 BEFORE the ratio: the pre-r12 shape (an intersect
      // inner-join) dropped zero-overlap candidates structurally; keep
      // that contract so threshold = 0 returns the same pair set as it
      // always did. Each candidate row carries both docs' shingle sets
      // until this point — bounded by 2× the larger doc's shingles,
      // the price of the zero pair×shingle-shuffle verify.
      .filter(col("inter") > 0)
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("inter")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /** Containment near-dup pairs: C(A,B) = |A∩B| / min(|A|, |B|) over
    * word n-gram shingles — the asymmetric-overlap signal Jaccard
    * misses. A 50-shingle quote fully contained in a 5000-shingle page
    * has Jaccard ≈ 0.01 (invisible to MinHash banding, which estimates
    * Jaccard) but containment 1.0; this is the operator that catches
    * quote/boilerplate inclusion and partial copies between
    * differently-sized docs.
    *
    * Candidates come from an inverted-index self-join keyed on the
    * shingle, with a stop-shingle guard: shingles appearing in more than
    * `maxShingleDf` docs are dropped BEFORE the join (the same
    * count-over-window shape as [[dropHotBands]], and the same skew
    * argument — a boilerplate shingle otherwise fans out O(df²) pairs).
    * Intersections and sizes are both counted over the KEPT shingle
    * space, so the guard shrinks the universe consistently instead of
    * biasing the ratio; the oracle mirrors the cap in QUALIFY. Cost is
    * O(Σ_sh df²) ≤ cap · |shingle rows| — linear in the corpus for a
    * fixed cap, every join keyed on the shingle or the (a, b) pair.
    * A prefix-filtered (rarest-(1-t)·sz-shingles probe) variant was
    * measured and REJECTED: on a vocab-saturated corpus no shingle is
    * rare, so the prefix prunes nothing while its separate
    * candidates-then-verify rejoin multiplies pairs × full doc shingles
    * — 3-5× slower at 10× sf0.1 on both the replicated and perturbed
    * corpora (SCALE.md round-5); the direct join only ever materializes
    * co-occurrence rows. Lower `maxShingleDf` is the scale knob here.
    *
    * Output: (a, b, containment, contained_id) with a < b,
    * containment >= threshold; `contained_id` is the smaller-set side
    * (ties to a), i.e. the doc a curation pass would drop. The
    * threshold compares the 6-decimal ROUNDED ratio, same contract (and
    * reason) as [[ngramJaccardPairs]].
    */
  def containmentPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
      maxShingleDf: Int = DefaultBandCap): DataFrame = {
    val sh0 = shingleRows(docs, n).select("doc_id", "sh")
    val sh = if (maxShingleDf <= 0) sh0
      else sh0
        .withColumn("df", count(lit(1)).over(Window.partitionBy("sh")))
        .filter(col("df") <= maxShingleDf)
        .drop("df")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val la = sh.select(col("doc_id").as("a"), col("sh"))
    val rb = sh.select(col("doc_id").as("b"), col("sh"))
    val inter = la.join(rb, "sh")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("sz", "sza"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("sz", "szb"), "b")
      .withColumn("containment", round(col("inter").cast("double") /
        least(col("sza"), col("szb")).cast("double"), 6))
      .filter(col("containment") >= threshold)
      .withColumn("contained_id",
        when(col("sza") <= col("szb"), col("a")).otherwise(col("b")))
      .select("a", "b", "containment", "contained_id")
  }

  /** The stop-shingle-cap budget behind [[containmentSchedule]]: the cap
    * is `clamp(8, 128, ContainmentDfBudget / n)` for corpus size n, so
    * the worst-case candidate volume bound cap·|shingle rows| stops
    * growing with the cap term once n passes the budget/128 knee
    * (~16 k docs) — the last dedup path with a fixed skew knob gets the
    * lshSchedule/semDedupSchedule corpus-scheduled discipline. 2²¹ keeps
    * the declared SFs at the measured cap 128 (500–5 020 docs) and
    * schedules 41 at the 10× probe corpus / 13 at 30×, where round-8
    * measured the fixed cap superlinear on df growth. Integer-exact on
    * both engines (BIGINT floor division of non-negative values), which
    * is what lets the oracle replay the schedule in SQL.
    */
  val ContainmentDfBudget = 1L << 21

  def containmentSchedule(n: Long): Int =
    math.max(8L, math.min(128L, ContainmentDfBudget / math.max(1L, n))).toInt

  /** Corpus-size-aware [[containmentPairs]] at [[containmentSchedule]]'s
    * cap — the declared `dedup_containment` path. The count() is one
    * cheap driver action against columnar footers (the
    * embeddingNearDupsAuto discipline).
    */
  def containmentPairsAuto(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.8): DataFrame =
    containmentPairs(docs, n, threshold, containmentSchedule(docs.count()))

  /** Corpus-size-aware [[ngramJaccardPairs]] with the frequent-band cap
    * on [[containmentSchedule]] — the declared audit-family path
    * (`dedup_ngram_jaccard` / `dedup_jaccard_histogram`). The fixed
    * cap 128 was the last unscheduled knob in the dedup family (the
    * position containment held before round 9): the exact-verify join
    * costs O(candidates · shingles-per-doc) and candidates are bounded
    * by cap · band rows, so holding the cap flat lets the verify
    * volume outgrow the corpus on df growth (12.7 s at 10×, the round
    * family's heaviest). Scheduled (cap 128 at the declared SFs —
    * outputs unchanged — then 41 at 10×, 13 at 30×), the bound's cap
    * term shrinks as n grows, same argument as [[containmentSchedule]];
    * the oracle replays the schedule off the same count.
    */
  def ngramJaccardPairsAuto(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.5, k: Int = 8, bands: Int = 4): DataFrame =
    ngramJaccardPairs(docs, n, threshold, k, bands,
      containmentSchedule(docs.count()))

  /** Embedding near-dups: pairs with cosine >= threshold, candidates
    * from OR-amplified sign-LSH (`tables` independent hash tables of
    * `bits` hyperplanes each — the same plane family as
    * [[Similarity.lshBucket]], so the DuckDB oracle replays the buckets
    * bit-for-bit). Candidates come from equality self-joins on the
    * compact (table, bucket) key — never a cross join — then the exact
    * cosine verifies each pair once (score-then-distinct: scoring before
    * the dedup keeps the wide vector columns out of the distinct's
    * shuffle). Recall is 1-(1-p^bits)^tables for plane-agreement
    * probability p = 1-θ/π; tune `bits` up for narrower buckets at
    * scale. Measured against the brute-force baseline
    * (`Reference.embeddingNearDupsExact`, test sources) in OpsSpec.
    */
  def embeddingNearDups(embs: DataFrame, threshold: Double = 0.99,
      dim: Int = 64, bits: Int = 6, tables: Int = 8): DataFrame = {
    val v = embs
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
    // one scan computes every table's bucket (posexplode index = table);
    // a per-table unionAll would read the embeddings `tables` times
    val bucketed = v.select(col("vec_id"), col("v"), col("nrm"),
      posexplode(graft.functions.LshBuckets(col("v"), dim, bits, tables))
        .as(Seq("table", "bucket")))
    val l = bucketed.select(col("table"), col("bucket"),
      col("vec_id").as("a"), col("v").as("va"), col("nrm").as("na"))
    val r = bucketed.select(col("table"), col("bucket"),
      col("vec_id").as("b"), col("v").as("vb"), col("nrm").as("nb"))
    // shuffle_hash (not broadcast): with identical
    // hashpartitioning(table, bucket) exchanges on both sides,
    // ReuseExchange evaluates the bucketed subtree — the tables×bits
    // plane dots per vector — ONCE. Left to itself the planner
    // broadcasts one side (the banded frame is "small"), which builds a
    // wide-row hash map AND re-computes every plane dot on the probe
    // side: measured 3.4× slower at 10× sf0.1 (30.8 s vs 9.1 s,
    // SCALE.md r6 third wave). PlanSpec pins the ReusedExchange.
    l.hint("shuffle_hash").join(r.hint("shuffle_hash"), Seq("table", "bucket"))
      .filter(col("a") < col("b"))
      .withColumn("cos", round(
        Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cos") >= threshold)
      .select("a", "b", "cos")
      .distinct()
  }

  /** Predicted bytes of the (vec_id, v, nrm) frame a broadcast attach
    * would ship: 8 bytes per double element plus ~32 of row overhead.
    * Past [[VectorBroadcastCeiling]] (256 MB — the TripleStore.sync
    * broadcast-ceiling discipline) the wide form stays: at the LSH→PQ
    * knee the frame is ~5.7 GB, never broadcastable.
    */
  private[graft] val VectorBroadcastCeiling: Long = 256L << 20
  private[graft] def vectorFrameBytes(n: Long, dim: Int): Long =
    n * (dim.toLong * 8L + 32L)

  /** Narrow-candidate + broadcast-attach form of [[embeddingNearDups]] —
    * IDENTICAL output by construction: the raw candidate multiset
    * {(a, b) : same (table, bucket), a < b} is the same bucket-equality
    * self-join, every raw pair is scored by the same exact rounded
    * cosine, and the survivors pass the same final distinct; whether
    * each raw pair carries its vectors THROUGH the (table, bucket)
    * exchange (wide form) or re-attaches them map-side from a broadcast
    * of the base vector frame cannot change the result set (spec-gated
    * byte-equal in OpsSpec).
    *
    * Why (guide §2.3 "shuffle keys and metadata instead of payloads" +
    * §8): at the 100× knobs (n = 200k, bits = 12, tables = 64) the wide
    * form's exchange carries 12.8M rows × ~550 B (the 64-double vector
    * rides every bucket row) ≈ 7 GB, where the narrow key row is ~24 B
    * ≈ 300 MB — and under AQE the two identical wide stages have been
    * observed racing to two distinct materializations (the PlanSpec
    * reuse pin only holds the static plan). Measured same-session at
    * 100×: wide 81.3 s vs narrow 38.8 s (raw candidate join alone
    * 4.6 s; broadcast attach ≈ 9 s; the exact-cosine scoring of the
    * 471M raw pairs dominates both forms' residue).
    */
  private[graft] def embeddingNearDupsNarrow(embs: DataFrame,
      threshold: Double = 0.99, dim: Int = 64, bits: Int = 6,
      tables: Int = 8): DataFrame = {
    val v = embs
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
    val bucketed = v.select(col("vec_id"),
      posexplode(graft.functions.LshBuckets(col("v"), dim, bits, tables))
        .as(Seq("table", "bucket")))
    // shuffle_hash on both sides for the same ReuseExchange reason as
    // the wide form — here the reused exchange is the ~24 B/row key
    // frame, so even an AQE reuse race costs a few hundred MB, not GBs
    val raw = bucketed.select(col("table"), col("bucket"), col("vec_id").as("a"))
      .hint("shuffle_hash")
      .join(bucketed.select(col("table"), col("bucket"), col("vec_id").as("b"))
        .hint("shuffle_hash"), Seq("table", "bucket"))
      .filter(col("a") < col("b"))
    raw
      .join(broadcast(v.select(col("vec_id").as("a"), col("v").as("va"),
        col("nrm").as("na"))), "a")
      .join(broadcast(v.select(col("vec_id").as("b"), col("v").as("vb"),
        col("nrm").as("nb"))), "b")
      .withColumn("cos", round(
        Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cos") >= threshold)
      .select("a", "b", "cos")
      .distinct()
  }

  /** The LSH knob schedule: (bits, tables) from the corpus size, so
    * candidate volume stays bounded as data grows. Cost of the bucket
    * self-join is O(tables · n² / 2^bits); holding `bits` fixed while n
    * grows 10× grows every bucket 10× and the join 100× (measured: the
    * sf0.1-tuned bits=6 pays 39.6 s on a 10× corpus where
    * bits=10/tables=32 finds MORE pairs in under 30 s — SCALE.md
    * "Embedding near-dup"). Schedule: bits = ⌈log2(n / targetBucket)⌉
    * clamped to [4, 12], tables doubled per +2 bits to hold the
    * 1-(1-p^bits)^tables recall.
    *
    * Pure INTEGER arithmetic — bits is the smallest k with
    * 2^k ≥ ⌈n/targetBucket⌉, which equals ⌈log2(n/targetBucket)⌉
    * exactly (2^k is an integer, so 2^k ≥ x ⟺ 2^k ≥ ⌈x⌉) without the
    * float-log ulp hazard at power-of-two boundaries. That exactness is
    * what lets the DuckDB oracle replay the schedule bit-for-bit
    * (TextSql.dedupEmbeddingAuto computes the same knobs in SQL), which
    * in turn is what makes the schedule-knob query hash-gateable.
    *
    * targetBucket = 20 is the round-5 measured point: on the perturbed
    * 10× corpus (20k vectors) it schedules bits=10/tables=32 — 28.1 s
    * and 6520 pairs vs 39.7 s / 6119 pairs at the prior bits=7/tables=8
    * (narrower buckets cut the self-join quadratics faster than the
    * extra tables re-add scan cost, and the added tables RAISE recall);
    * bits=12 at the same tables collapses recall (3208 pairs) — the
    * clamp top is a recall guard, not a cost one.
    */
  def lshSchedule(n: Long, targetBucket: Int = 20): (Int, Int) = {
    val m = (n + targetBucket - 1) / targetBucket
    var k = 0
    while ((1L << k) < m && k < 40) k += 1
    val bits = math.min(12, math.max(4, k))
    val tables = math.min(64, 8 << math.max(0, (bits - 6) / 2))
    (bits, tables)
  }

  /** Where the scheduled sign-LSH candidate generator stops being the
    * right one: [[lshSchedule]] clamps bits at 12 (a RECALL guard — more
    * bits at fixed tables collapses recall, measured round 5), so past
    * the clamp bucket occupancy grows ∝ n and the bucket self-join cost
    * tables·Σbucket² grows ∝ n². The knee is occupancy 128× past
    * targetBucket — 2¹²·targetBucket·128 ≈ 1.05e7 vectors at the
    * default — the same 128 constant as [[DefaultBandCap]]'s skew
    * guard: past it the generator switches to PQ-code blocking
    * ([[Similarity.pqCodeDups]]), whose cells ADAPT to the data where
    * hyperplanes are oblivious and whose hot-cell cap bounds Σdf² ≤
    * cap·n — linear candidate volume at any n. The exact-cosine verify
    * tail is identical on both branches (same rounding, same (a, b,
    * cos) contract, a < b). Was the knob sheet's one manual switch
    * (SCALE.md "1000-executor knob sheet", lshSchedule row).
    */
  private[graft] def lshOccupancyKnee(targetBucket: Int = 20): Long =
    (1L << 12) * targetBucket.toLong * 128L

  /** PQ knobs for the past-knee candidate generator: m = 4 subspaces
    * (the `dedup_pq_codes`/`emb_pq_error` constant), ksub = smallest
    * power of two with ksub⁴ ≥ ⌈n/targetCell⌉ clamped to [8, 256]
    * (8-bit codes — every real PQ's ceiling), so expected cell
    * occupancy tracks targetCell as n grows. Integer arithmetic
    * throughout — replayable from count(*) on any engine, the
    * lshSchedule discipline.
    */
  private[graft] def pqSchedule(n: Long, targetCell: Int = 20): (Int, Int) = {
    val cells = (n + targetCell - 1) / targetCell
    var ksub = 8L
    while (ksub * ksub * ksub * ksub < cells && ksub < 256L) ksub *= 2
    (4, ksub.toInt)
  }

  /** Corpus-size-aware [[embeddingNearDups]]: [[lshSchedule]] knobs up
    * to [[lshOccupancyKnee]], PQ-code blocking past it. The count() is
    * one cheap driver action against a columnar footer, not a scan.
    * Every driver-verified corpus (through the 100× embeddings table,
    * 200k vectors) sits below the knee, so the DuckDB oracle replays
    * the LSH branch only; the PQ branch is gated by DedupSpec (planted
    * pairs found by BOTH generators on a fixture where both run, every
    * output pair exact-cosine true) and measured past the knee by
    * ScaleProbe `lshpq` (SCALE.md r13).
    */
  def embeddingNearDupsAuto(embs: DataFrame, threshold: Double = 0.99,
      dim: Int = 64, targetBucket: Int = 20): DataFrame = {
    val n = embs.count()
    if (n <= lshOccupancyKnee(targetBucket)) {
      val (bits, tables) = lshSchedule(n, targetBucket)
      // same output either way (spec-gated); the narrow form wins
      // whenever the vector frame fits a sane broadcast (measured 2.1×
      // at 100×), the wide form carries the mid-band up to the PQ knee
      if (vectorFrameBytes(n, dim) <= VectorBroadcastCeiling)
        embeddingNearDupsNarrow(embs, threshold, dim, bits, tables)
      else
        embeddingNearDups(embs, threshold, dim, bits, tables)
    } else {
      val (m, ksub) = pqSchedule(n, targetBucket)
      Similarity.pqCodeDups(embs, m, ksub, iters = 2, threshold = threshold,
        maxCellDf = DefaultBandCap)
    }
  }

  /** Incremental batch-vs-corpus near-dup detection — the ingest shape:
    * a (small) new batch of documents is checked against the (huge)
    * existing corpus WITHOUT any corpus self-join. Both sides get the
    * same banded MD5-MinHash keys as [[minhashPairs]] (identical hash
    * family, so a batch doc near-identical to a corpus doc collides in
    * the same bands it would in the self-join); the corpus band frame
    * is the probe side and the batch band frame is BROADCAST, so the
    * join is map-side over the corpus — the only corpus-wide shuffle is
    * the hot-band guard's (band, key) window, which at 100 TB would be
    * the stored statistic of a persisted band index rather than a
    * recomputation (the streaming ingest path in EventStream maintains
    * exactly that index incrementally). The cap applies to the CORPUS
    * side only: a hot band there is the O(hot · batch) skew risk, while
    * the batch side is bounded by construction.
    *
    * Output: one row per batch doc with >= 1 corpus collision —
    * (batch_id, n_corpus_dups, first_dup) — i.e. the drop/route decision
    * per incoming doc; batch docs with no match simply pass through.
    */
  def crossCorpusMatches(corpus: DataFrame, batch: DataFrame,
      k: Int = OracleMinhashK, bands: Int = OracleMinhashBands,
      maxBandFreq: Int = DefaultBandCap): DataFrame = {
    val cb = dropHotBands(
        bandKeys(sigsFromShingles(shingleRows(corpus, 3), k), k, bands), maxBandFreq)
      .select(col("band"), col("key"), col("doc_id").as("corpus_id"))
    val bb = bandKeys(sigsFromShingles(shingleRows(batch, 3), k), k, bands)
      .select(col("band"), col("key"), col("doc_id").as("batch_id"))
    cb.join(broadcast(bb), Seq("band", "key"))
      .select("batch_id", "corpus_id").distinct()
      .groupBy("batch_id")
      .agg(count(lit(1)).as("n_corpus_dups"), min("corpus_id").as("first_dup"))
  }

  /** Fuzzy decontamination — the near-dup complement of the exact
    * shingle-probe decontamination (`pipeline_decontaminate`): a corpus
    * doc is flagged when it shares a MinHash band key with ANY
    * benchmark doc, so paraphrased / tail-perturbed contamination that
    * exact 4-gram overlap misses still collides (same hash family as
    * [[minhashPairs]]). Shape mirrors [[crossCorpusMatches]] with the
    * aggregation flipped to the CORPUS side — the decontamination
    * decision is per corpus doc: (corpus_id, n_bench_hits, first_bench).
    * The benchmark band frame is tiny → broadcast; the hot-band cap
    * applies to the corpus side (the O(hot·bench) skew risk).
    */
  def contaminatedDocs(corpus: DataFrame, bench: DataFrame,
      k: Int = OracleMinhashK, bands: Int = OracleMinhashBands,
      maxBandFreq: Int = DefaultBandCap): DataFrame = {
    val cb = dropHotBands(
        bandKeys(sigsFromShingles(shingleRows(corpus, 3), k), k, bands), maxBandFreq)
      .select(col("band"), col("key"), col("doc_id").as("corpus_id"))
    val bb = bandKeys(sigsFromShingles(shingleRows(bench, 3), k), k, bands)
      .select(col("band"), col("key"), col("doc_id").as("bench_id"))
    cb.join(broadcast(bb), Seq("band", "key"))
      .select("corpus_id", "bench_id").distinct()
      .groupBy("corpus_id")
      .agg(count(lit(1)).as("n_bench_hits"), min("bench_id").as("first_bench"))
  }

  /** Resolve near-dup pairs into duplicate CLUSTERS: connected
    * components over the pair graph, labeling every member with the
    * minimum doc id of its component (the canonical survivor a curation
    * pipeline keeps). Pairwise output alone under-deletes — if A~B and
    * B~C, pairwise keep-min retains both A and C even when the cluster
    * is one boilerplate family — so cluster resolution is the step that
    * makes near-dedup *composable* with curation.
    *
    * Runs [[graft.graph.GraphOps.connectedComponents]] (min-label
    * propagation): the per-node state is one Long and each round is one
    * keyed join of the label frame against the pair edges, so the cost
    * is O(edges · diameter) with no driver materialization — near-dup
    * components are band-collision cliques, so diameters stay small
    * even at 100 TB. Input must expose BIGINT pair columns (a, b);
    * output is (doc_id, canonical_id), one row per doc that appears in
    * any pair.
    */
  def duplicateClusters(pairs: DataFrame): DataFrame =
    graft.graph.GraphOps.connectedComponents(
        pairs.select(col("a").cast("long").as("src"), col("b").cast("long").as("dst")))
      .select(col("node").as("doc_id"), col("component").as("canonical_id"))

  /** Winnowing fingerprint rows (Schleimer/Wilkerson/Aiken, SIGMOD'03
    * "Winnowing: Local Algorithms for Document Fingerprinting" — the
    * MOSS algorithm): hash every n-token shingle (portable 60-bit md5,
    * [[GraftFunctions.md5Hash60]]), slide a window of `w` consecutive
    * hashes and keep each window's MINIMUM. The winnowing guarantee:
    * any token run of length ≥ n + w - 1 shared by two docs yields at
    * least one shared fingerprint, while only ~2/(w+1) of positions are
    * sampled — POSITION-ROBUST partial-overlap detection (a shared
    * paragraph fires regardless of where it sits in either doc), which
    * whole-doc MinHash misses (it estimates global Jaccard) and
    * containment only sees through the full uncapped shingle join.
    *
    * The whole per-doc computation is ONE codegen'd projection with the
    * token and hash arrays bound as LAMBDA VARIABLES (the
    * compressibility-proxy discipline — a multi-referenced projection
    * alias gets re-inlined by CollapseProject into lambda bodies, which
    * get no CSE, turning the split O(tokens²); a lambda variable cannot
    * be re-inlined). Docs with fewer than n+w-1 tokens degrade per the
    * paper: 1 ≤ hashes < w keeps the single global min; < n tokens
    * yields nothing.
    *
    * Output: (doc_id, fp) — fingerprints DISTINCT per doc, ~0.4·tokens
    * rows at w=4 (smaller than the shingle frame the Jaccard family
    * already explodes).
    */
  def winnowRows(docs: DataFrame, n: Int = 3, w: Int = WinnowW): DataFrame = {
    val fps = element_at(transform(array(TextOps.tokens(col("text"))), tk =>
      element_at(transform(array(
        when(size(tk) >= n,
          transform(sequence(lit(0), size(tk) - n),
            i => GraftFunctions.md5Hash60(concat_ws(" ",
              (0 until n).map(j => element_at(tk, i + j + 1)): _*))))
          .otherwise(array().cast("array<bigint>"))), hs =>
        when(size(hs) >= w,
          array_distinct(transform(sequence(lit(0), size(hs) - w),
            i => array_min(slice(hs, i + 1, lit(w))))))
          .when(size(hs) > 0, array(array_min(hs)))
          .otherwise(hs)), 1)), 1)
    docs.select(col("doc_id"), explode(fps).as("fp"))
  }

  /** Partial-overlap near-dup pairs over winnowing fingerprints: an
    * inverted-index self-join on the fingerprint (the same keyed
    * generate-candidates shape as [[containmentPairs]]), counting
    * DISTINCT shared fingerprints per pair. Fingerprints hotter than
    * `maxFpDf` docs are dropped before the join — same O(Σ df²) ≤
    * cap · |fp rows| bound and the same consistent-universe argument as
    * the containment stop-shingle guard. `minShared ≥ 2` suppresses
    * single-phrase coincidences; a shared run of L tokens contributes
    * ≈ 2(L-n-w+2)/(w+1) expected fingerprints, so the threshold is a
    * run-length knob, not a similarity ratio.
    *
    * Output: (a, b, shared) with a < b, shared ≥ minShared.
    */
  def winnowPairs(docs: DataFrame, n: Int = 3, w: Int = WinnowW,
      minShared: Long = WinnowMinShared,
      maxFpDf: Int = DefaultBandCap): DataFrame = {
    val rows0 = winnowRows(docs, n, w)
    val rows = if (maxFpDf <= 0) rows0
      else rows0
        .withColumn("df", count(lit(1)).over(Window.partitionBy("fp")))
        .filter(col("df") <= maxFpDf)
        .drop("df")
    val la = rows.select(col("doc_id").as("a"), col("fp"))
    val rb = rows.select(col("doc_id").as("b"), col("fp"))
    la.join(rb, "fp")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Exact duplicated-substring runs (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499 —
    * the suffix-array ExactSubstr family, re-expressed as keyed joins):
    * find every MAXIMAL run of >= `minRunTokens` consecutive tokens
    * shared verbatim between two documents. This is the detector the
    * near-dup family structurally under-reports: a doc spliced from
    * halves of two parents sits at ~0.5 whole-doc Jaccard to each
    * (below MinHash banding recall at common thresholds) yet carries
    * long verbatim runs — the span-level signal benchmark
    * decontamination and memorization audits need.
    *
    * Spark shape (no suffix array — that is a single-node construction;
    * the distributed equivalent is shingle-diagonal merging):
    *  1. POSITIONED n-token shingles (doc_id, pos, h) — one codegen'd
    *     projection per doc, h = portable 60-bit md5
    *     ([[GraftFunctions.md5Hash60]]), positions 1-indexed, NOT
    *     distinct (positions are the payload here, unlike
    *     [[shingleRows]]).
    *  2. Stop-shingle guard: shingles present in more than
    *     `maxShingleDf` DISTINCT docs are dropped before the join —
    *     the containment-cap argument verbatim (a boilerplate shingle
    *     fans out O(df²) position pairs); cost bound cap · |pos rows|.
    *     Dropping a hot shingle can SPLIT a run crossing it — the
    *     standard capped-index trade, mirrored exactly by the oracle.
    *  3. Inverted-index self-join on h across docs (a < b) →
    *     (a, b, pa, pb) match points.
    *  4. Diagonal gap-islands: consecutive matches of a shared run sit
    *     on one diagonal (pa − pb constant) at consecutive pa, so
    *     grp = pa − row_number() over (a, b, diag ORDER BY pa) is
    *     constant exactly within a maximal run (the window is per
    *     match-group, bounded by the cap — never corpus-sized).
    *     A run of L shared tokens is L − n + 1 shingle matches →
    *     run_tokens = count + n − 1.
    *
    * Output: (a, b, start_a, start_b, run_tokens), one row per maximal
    * run with run_tokens >= minRunTokens.
    */
  def exactSubstringRuns(docs: DataFrame, n: Int = 5, minRunTokens: Int = 15,
      maxShingleDf: Int = DefaultBandCap): DataFrame = {
    val pos0 = positionedShingles(docs, n)
    val keptH = pos0.groupBy("h").agg(countDistinct("doc_id").as("df"))
      .filter(col("df") <= maxShingleDf).select("h")
    runsFromPostings(pos0.join(keptH, "h"), n, minRunTokens)
  }

  /** Step 1 of [[exactSubstringRuns]]: the positioned n-token shingle
    * postings (doc_id, pos, h) — shared verbatim by the streaming
    * ingest twin (EventStream.streamExactSubstrIngest), whose
    * df-capped index holds exactly these rows. */
  private[graft] def positionedShingles(docs: DataFrame, n: Int): DataFrame =
    docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
      .select(col("doc_id"), explode(
        when(size(col("tk")) >= n,
          transform(sequence(lit(1), size(col("tk")) - n + 1),
            i => struct(i.as("pos"),
              GraftFunctions.md5Hash60(concat_ws(" ",
                (0 until n).map(j => element_at(col("tk"), i + j)): _*)).as("h"))))
          .otherwise(array().cast("array<struct<pos:int,h:bigint>>"))).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.h").as("h"))

  /** Steps 3-4 of [[exactSubstringRuns]] over an already-df-capped
    * postings frame (doc_id, pos, h): inverted self-join on h across
    * docs, then diagonal gap-island merging. One code path for the
    * declared query and the streaming index readout (the KM-twin
    * discipline — divergence between twin and query is impossible by
    * construction). */
  private[graft] def runsFromPostings(kept: DataFrame, n: Int,
      minRunTokens: Int): DataFrame = {
    val la = kept.select(col("doc_id").as("a"), col("pos").as("pa"), col("h"))
    val rb = kept.select(col("doc_id").as("b"), col("pos").as("pb"), col("h"))
    val w = Window.partitionBy("a", "b", "diag").orderBy("pa")
    la.join(rb, "h")
      .filter(col("a") < col("b"))
      .withColumn("diag", col("pa") - col("pb"))
      .withColumn("grp", col("pa") - row_number().over(w))
      .groupBy("a", "b", "diag", "grp")
      .agg(count(lit(1)).as("len_sh"),
        min("pa").as("start_a"), min("pb").as("start_b"))
      .select(col("a"), col("b"),
        col("start_a").cast("long").as("start_a"),
        col("start_b").cast("long").as("start_b"),
        (col("len_sh") + lit(n - 1)).cast("long").as("run_tokens"))
      .filter(col("run_tokens") >= minRunTokens)
  }

  /** [[exactSubstringRuns]] at the [[containmentSchedule]] stop-shingle
    * cap — the declared corpus-size-aware path (same budget: the two
    * operators share the capped-inverted-index cost model).
    */
  def exactSubstringRunsAuto(docs: DataFrame, n: Int = 5,
      minRunTokens: Int = 15): DataFrame =
    exactSubstringRuns(docs, n, minRunTokens, containmentSchedule(docs.count()))
}
