package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (extension surface).
  *
  * Brute-force cosine top-k is the exact baseline: O(|Q|·n), fine when
  * the query set is small. The sign-LSH bucketed variant is the scale
  * path: candidates only within a bucket, so cost is O(n²/2^bits) per
  * bucket in expectation. Both use codegen'd higher-order functions
  * (`zip_with`/`aggregate`) — no UDF in the inner loop.
  */
object Similarity {

  /** exact dot product of two double arrays — a custom codegen'd
    * Catalyst expression with deterministic left-to-right accumulation,
    * matching DuckDB's `list_dot_product` (oracle-safe).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.DoubleDotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** (vec_id, v, nrm) projection — the norm is computed ONCE per vector,
    * not once per candidate pair.
    */
  private def withNorm(embs: DataFrame): DataFrame =
    embs.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))

  /** Exact top-k neighbors for each query vector (small query set —
    * broadcast). Output: (query_id, vec_id, cos, rank).
    */
  def bruteForceTopK(embs: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val v = withNorm(embs)
    val q = v.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = v.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cos", "rank")
  }

  /** Hard-negative mining for contrastive training (the DPR/SimCLR
    * batch-construction primitive): for each anchor vector, the k
    * nearest neighbors carrying a DIFFERENT label — the negatives
    * closest to the decision boundary, which dominate the contrastive
    * gradient. Same broadcast-anchor shape as [[bruteForceTopK]]: the
    * anchor batch broadcasts, the corpus side streams one scan, the
    * per-anchor top-k is a partitioned window over the anchor key. At
    * 100 TB the anchor batch is the (bounded) training batch; the
    * label filter prunes before scoring.
    */
  def hardNegatives(embs: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val v = embs.select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = v.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = v.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id") && col("label") =!= col("qlabel"))
      .withColumn("cos", round(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("vec_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id"),
        col("label").cast("long").as("neg_label"), col("cos"), col("rnk"))
  }

  /** Deterministic ±1 hyperplane component for (plane j, dim i) — seeded
    * by the parity of md5's first hex nibble, reproducible across
    * sessions/cluster sizes AND across engines (DuckDB's md5 yields the
    * same nibble, which is what makes the LSH oracle possible).
    */
  private def planeSign(j: Int, i: Int): Double =
    graft.functions.LshBuckets.planeSign(j, i)

  /** Sign-LSH bucket id from `bits` random hyperplanes (dim = embedding
    * length), for hash table `table` (distinct plane family per table).
    * Pure column expression: for each plane, sign of the dot product
    * with a ±1 hyperplane.
    */
  def lshBucket(v: Column, dim: Int, bits: Int, table: Int = 0): Column = {
    val planeBits = (0 until bits).map { j =>
      val plane = array((0 until dim).map(i => lit(planeSign(table * bits + j, i))): _*)
      when(dot(v, plane) >= 0, shiftleft(lit(1L), j)).otherwise(0L)
    }
    planeBits.reduce((a, b) => a + b)
  }

  /** Approximate top-k via OR-amplified sign-LSH: `tables` independent
    * hash tables of `bits` hyperplanes each; a vector is a candidate if
    * it shares a bucket with the query in ANY table. Same output shape
    * as [[bruteForceTopK]]; recall measured in tests. At scale each
    * table join is a shuffle on a compact (table, bucket) key — cost is
    * O(tables · n²/2^bits) expected, vs O(|Q|·n) for brute force.
    */
  def lshTopK(embs: DataFrame, queryIds: Seq[Long], k: Int,
      dim: Int = 64, bits: Int = 6, tables: Int = 8): DataFrame = {
    val v = withNorm(embs)
    // all `tables` bucket ids in ONE projection + posexplode (pos = the
    // table index) — a per-table unionAll would re-scan the embeddings
    // `tables` times: 8× read amplification on the corpus at scale
    val bucketed = v.select(col("vec_id"), col("v"), col("nrm"),
      posexplode(graft.functions.LshBuckets(col("v"), dim, bits, tables))
        .as(Seq("table", "bucket")))
    val q = bucketed.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"),
        col("table"), col("bucket"))
    val candidates = bucketed.join(broadcast(q), Seq("table", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id", "v", "nrm", "qv", "qnrm")
      .dropDuplicates("query_id", "vec_id")
    val scored = candidates.withColumn("cos",
      round(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cos", "rank")
  }

  /** Multi-probe sign-LSH top-k (Lv et al., VLDB'07, adapted to sign
    * LSH): each query probes its home bucket PLUS the `extraProbes`
    * buckets reached by flipping the query's lowest-|margin| planes —
    * the planes whose hyperplane the query sits closest to, i.e. the
    * neighbor buckets most likely to hold near vectors. Probing ~2
    * extra buckets per table buys the recall of roughly 2× the tables
    * at HALF the index: the corpus side is still bucketed once per
    * table (tables × n rows), so fewer tables means proportionally
    * less index memory, less bucketing scan, and less shuffle at 100 TB
    * — the extra probes only multiply the (tiny, broadcast) query side.
    *
    * Determinism contract (what makes the DuckDB oracle possible): the
    * flip order sorts planes by (|margin|, plane index) — margins are
    * the same left-to-right dot products both engines compute to
    * identical IEEE doubles, and the index tie-break pins equal
    * margins. Same output shape and (cos DESC, vec_id) ranking as the
    * other top-k paths.
    */
  def lshMultiProbeTopK(embs: DataFrame, queryIds: Seq[Long], k: Int,
      dim: Int = 64, bits: Int = 6, tables: Int = 4,
      extraProbes: Int = 2): DataFrame = {
    val v = withNorm(embs)
    val bucketed = v.select(col("vec_id"), col("v"), col("nrm"),
      posexplode(graft.functions.LshBuckets(col("v"), dim, bits, tables))
        .as(Seq("table", "bucket")))
    // query side: home bucket + flip-distance-ordered probe buckets per
    // table, all as one column expression — (bucket, probes) per table
    // struct, posexploded so pos = table index
    def tableProbes(t: Int): Column = {
      val home = lshBucket(col("v"), dim, bits, t)
      // the flipped bucket is precomputed per plane (shift amount must
      // be a literal), so the sort just selects which flips to keep;
      // struct sort order (m, j, fb) = (|margin|, plane index) with the
      // index pinning equal-margin ties
      val margins = (0 until bits).map { j =>
        val plane = array((0 until dim).map(i =>
          lit(planeSign(t * bits + j, i))): _*)
        struct(abs(dot(col("v"), plane)).as("m"), lit(j).as("j"),
          home.bitwiseXOR(lit(1L << j)).as("fb"))
      }
      val flips = slice(array_sort(array(margins: _*)), 1, extraProbes)
      concat(array(home), transform(flips, s => s.getField("fb")))
    }
    val q = v.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"),
        posexplode(array((0 until tables).map(tableProbes): _*)).as(Seq("table", "probes")))
      .select(col("query_id"), col("qv"), col("qnrm"), col("table"),
        explode(col("probes")).as("bucket"))
    val candidates = bucketed.join(broadcast(q), Seq("table", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id", "v", "nrm", "qv", "qnrm")
      .dropDuplicates("query_id", "vec_id")
    val scored = candidates.withColumn("cos",
      round(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cos", "rank")
  }

  /** Hard ceiling on driver-resident k-means state: every Lloyd trainer
    * here ([[ivfTopK]]'s and [[fpTrainCentroids]]) collects nlist·dim
    * centroid cells per round and probes with nlist-wide per-query
    * column expressions — the small-model IVF shape — so unguarded it
    * would OOM the driver (and melt codegen) at 100 TB-grade parameters
    * (nlist ≥ 10⁵). 2²² cells ≈ 32 MB of longs and a few-thousand-wide
    * probe expression at dim 64 — comfortably inside both limits, and
    * past every scheduled knob (SemDeDup's nlist tops out at 1024, PQ's
    * ksub at 256). Out-of-range input fails fast, before any Lloyd round.
    */
  private[graft] val MaxDriverCentroidCells: Long = 1L << 22

  private def requireCentroidsFitDriver(nlist: Int, dim: Int): Unit =
    require(nlist.toLong * dim <= MaxDriverCentroidCells,
      s"k-means model of nlist*dim = ${nlist}x$dim = ${nlist.toLong * dim} " +
        s"cells exceeds the driver cap of $MaxDriverCentroidCells cells")

  /** (vec_id, v, q, nrm) projection shared by the fixed-point k-means
    * consumers: q = floor(component·10⁶) BIGINT micro-units.
    */
  private def fpQuantized(embs: DataFrame): DataFrame =
    embs.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("q", transform(col("v"), x => floor(x * 1e6).cast("long")))
      .withColumn("nrm", norm(col("v")))

  /** `body` over the cached [[fpQuantized]] frame of `embs` and its
    * vector dimension; the frame is unpersisted when `body` returns or
    * throws. The dimension is read off the first row (0 when empty)
    * before the frame is cached: one job of one task, so a model past
    * [[MaxDriverCentroidCells]] is refused before any pass over the
    * corpus.
    */
  private def withQuantized[T](embs: DataFrame)(body: (DataFrame, Int) => T): T = {
    val v = fpQuantized(embs)
    val dim = v.select(size(col("q"))).take(1).headOption.map(_.getInt(0)).getOrElse(0)
    v.cache()
    try body(v, dim) finally v.unpersist(blocking = false)
  }

  /** Integer assignment SCORE of col("q") against a literal centroid:
    * |c|² − 2·q·c, with the dot product a codegen'd primitive loop
    * (graft.functions.LongDotProduct) and |c|² folded on the driver.
    * Argmin-equivalent to the squared L2 the oracle ranks by — the
    * omitted |q|² term is constant per row, so the ordering INCLUDING
    * ties is identical — but evaluation is O(dim) native per centroid
    * instead of an interpreted zip_with/aggregate lambda pair (which
    * boxed every element: measured 53 s → ~5 s at nlist=160/20k
    * vectors). Exact BIGINTs throughout (bounded ~2⁴⁶).
    */
  private def fpScoreCol(c: Array[Long]): Column = fpScoreColOn(col("q"), c)

  private def fpScoreColOn(q: Column, c: Array[Long]): Column = {
    val c2 = c.foldLeft(0L)((s, x) => s + x * x)
    lit(c2) - lit(2L) * graft.functions.LongDotProduct(
      q, array(c.toIndexedSeq.map(lit): _*))
  }

  /** argmin over integer scores, ties to the lowest cell — mirrored by
    * the oracle's ORDER BY dist, cell (score and dist induce the same
    * per-row order, see [[fpScoreCol]]). Since r12 this is
    * [[graft.functions.CentroidArgMin]] — the centroid matrix rides as
    * a codegen reference object, not a k·dim-literal expression tree,
    * so assignment cost is one tight primitive loop per row at ANY
    * nlist under the driver guard (the former array_position-over-
    * score-literals form hit a codegen wall past nlist ≈ 32).
    */
  private def fpCellCol(cs: Array[Array[Long]]): Column = fpCellColOn(col("q"), cs)

  private def fpCellColOn(q: Column, cs: Array[Array[Long]]): Column =
    graft.functions.CentroidArgMin(q, cs.map(_.clone()))

  /** The fixed-point Lloyd trainer — the one behind [[ivfFixedPointTopK]],
    * [[semanticDedup]], the PQ codebooks ([[pqTrain]]) and the IVFPQ
    * coarse quantizer: deterministic init (the `nlist` lowest vec_ids),
    * integer argmin assignment, floor-of-double-mean updates — order-free
    * and bit-identical on any engine/partitioning. `v` must be the
    * (cached) [[fpQuantized]] frame of `dim`-long vectors. Models past
    * [[MaxDriverCentroidCells]] are refused before the seed collect.
    */
  private def fpTrainCentroids(v: DataFrame, nlist: Int, dim: Int,
      iters: Int): Array[Array[Long]] = {
    requireCentroidsFitDriver(nlist, dim)
    var cents: Array[Array[Long]] = v.orderBy("vec_id").limit(nlist)
      .select("q").collect().map(_.getSeq[Long](0).toArray)
    for (_ <- 0 until iters) {
      val means = v.withColumn("cid", fpCellCol(cents))
        .select(col("cid"), posexplode(col("q")).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        .agg(floor(sum("x") / count(lit(1))).cast("long").as("m"))
        .collect()
      val next = cents.map(_.clone())
      means.foreach { r =>
        next(r.getAs[Int]("cid"))(r.getAs[Int]("pos")) = r.getAs[Long]("m")
      }
      cents = next
    }
    cents
  }

  /** Train the m per-subspace PQ codebooks off a cached [[fpQuantized]]
    * frame of `dim`-long vectors; returns (subDim, codebooks). Shared by
    * [[pqError]] and [[pqCodeDups]] so the two queries train
    * bit-identically.
    */
  private def pqTrain(full: DataFrame, dim: Int, m: Int, ksub: Int,
      iters: Int): (Int, Seq[Array[Array[Long]]]) = {
    require(dim % m == 0, s"dim $dim must split into $m equal subspaces")
    requireCentroidsFitDriver(ksub, dim)
    val sub = dim / m
    (sub, (0 until m).map { s =>
      fpTrainCentroids(
        full.select(col("vec_id"), slice(col("q"), s * sub + 1, sub).as("q")),
        ksub, sub, iters)
    })
  }

  /** Product-quantization codebook trainer + reconstruction-error
    * report (the PQ of IVFPQ — Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011): the dim-D fixed-point
    * embedding space splits into `m` contiguous subspaces of D/m dims;
    * each subspace trains its OWN ksub-centroid codebook via the shared
    * [[fpTrainCentroids]] loop on the sliced frame (deterministic init,
    * integer argmin, floor-mean updates — bit-identical on any engine),
    * and every vector is coded by its per-subspace argmin cell:
    * m·log₂(ksub) bits/vector instead of 32·D. Output is the
    * per-subspace reconstruction-error report — the (m, ksub) tuning
    * readout before committing an index build: (subspace, n_vecs,
    * mean_abs_err_x1e6 per dim, max_vec_err_x1e6 per-vector sum).
    *
    * Scale: total codebook cells are ksub·D (driver guard shared with
    * IVF); assignment is a codegen'd argmin over ksub literal centroids
    * per subspace — a pure scan with no shuffle before the m-row agg;
    * training pulls ksub·(D/m) means per iter per subspace (bounded,
    * the IVF-centroid collect discipline).
    */
  def pqError(embs: DataFrame, m: Int = 4, ksub: Int = 8,
      iters: Int = 2): DataFrame = {
    withQuantized(embs) { (full, dim) =>
      val (sub, books) = pqTrain(full, dim, m, ksub, iters)
      val parts = (0 until m).map { s =>
        val vs = full.select(col("vec_id"), slice(col("q"), s * sub + 1, sub).as("q"))
        val cents = books(s)
        val cArr = array(cents.toIndexedSeq.map(c =>
          array(c.toIndexedSeq.map(lit): _*)): _*)
        vs.withColumn("cid", fpCellCol(cents))
          .withColumn("c", element_at(cArr, col("cid") + 1))
          .select(lit(s.toLong).as("subspace"),
            expr("aggregate(zip_with(q, c, (x, y) -> abs(x - y)), " +
              "cast(0 as bigint), (a, e) -> a + e)").as("err"))
      }
      val out = parts.reduce(_ unionByName _)
        .groupBy("subspace")
        .agg(count(lit(1)).as("n_vecs"),
          expr(s"sum(err) div (count(*) * $sub)").as("mean_abs_err_x1e6"),
          max("err").as("max_vec_err_x1e6"))
        .orderBy("subspace")
        .cache()
      // materialize the m-row report, then release the per-vector cache
      // (same lifetime discipline as ivfFixedPointTopK)
      out.count()
      out
    }
  }

  /** Embedding near-dup pairs by PQ-CODE COLLISION — the FAISS-style
    * blocking that makes code-level dedup O(corpus): two vectors are
    * candidates only when ALL m per-subspace codes agree (an equality
    * join on the m-int code vector, the same
    * generate-candidates-then-verify shape as every dedup path), then
    * candidates are verified by exact cosine ≥ threshold. Codebooks are
    * [[pqTrain]]'s — bit-identical to `emb_pq_error`'s, so the two
    * queries gate each other (ksub·dim codebook cells stay under
    * [[MaxDriverCentroidCells]]). Cells hotter than `maxCellDf` vectors are
    * dropped before the self-join (the containment stop-shingle guard;
    * Σdf² ≤ cap · n). Complements the sign-LSH candidate path: PQ cells
    * adapt to the data distribution where hyperplanes are oblivious.
    *
    * Output: (a, b, cos) with a < b, cos ≥ threshold.
    */
  def pqCodeDups(embs: DataFrame, m: Int = 4, ksub: Int = 8,
      iters: Int = 2, threshold: Double = 0.45,
      maxCellDf: Int = graft.ops.Dedup.DefaultBandCap): DataFrame = {
    withQuantized(embs) { (full, dim) =>
      val (sub, books) = pqTrain(full, dim, m, ksub, iters)
      val codeCols = (0 until m).map(s =>
        fpCellColOn(slice(col("q"), s * sub + 1, sub), books(s)))
      val coded0 = full.select(col("vec_id"), col("v"), col("nrm"),
        array(codeCols: _*).as("code"))
      val coded =
        if (maxCellDf <= 0) coded0
        else coded0
          .withColumn("df", count(lit(1)).over(Window.partitionBy("code")))
          .filter(col("df") <= maxCellDf)
          .drop("df")
      val l = coded.select(col("code"), col("vec_id").as("a"),
        col("v").as("va"), col("nrm").as("na"))
      val r = coded.select(col("code"), col("vec_id").as("b"),
        col("v").as("vb"), col("nrm").as("nb"))
      val out = l.join(r, "code")
        .filter(col("a") < col("b"))
        .withColumn("cos", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
        .filter(col("cos") >= threshold)
        .select("a", "b", "cos")
        .cache()
      out.count()
      out
    }
  }

  /** IVFPQ ANN search (Jégou et al. TPAMI 2011, the FAISS IndexIVFPQ
    * shape): a coarse nlist-cell quantizer routes each query to its
    * `nprobe` nearest cells, and candidates in those cells are ranked
    * by ASYMMETRIC DISTANCE — the query's exact subvectors against
    * each candidate's PQ codewords, Σ_s ‖q_s − cb_s[code_s(x)]‖².
    * Everything is exact fixed-point: the coarse quantizer is the
    * shared [[fpTrainCentroids]] loop, codebooks are [[pqTrain]]'s
    * (bit-identical to `emb_pq_error` / `dedup_pq_codes`), and the ADC
    * rank is an integer, so the whole search path is oracle-gateable —
    * no float ANN nondeterminism anywhere.
    *
    * The per-query subspace lookup table (the IVFPQ trick: m·ksub
    * distances per QUERY, not per candidate) is a COLUMN on the probe
    * frame — computed once per query row, broadcast with the probes,
    * and indexed per candidate by its stored code: the per-candidate
    * work is m array lookups + adds, the plan is |Q|-independent, and
    * the corpus is touched only through the keyed `cid` join. Scale
    * knobs are IVF's (nlist↑ with corpus); a coarse model past
    * [[MaxDriverCentroidCells]] is refused by the trainer.
    *
    * Output: (query_id, vec_id, adist, rnk) — adist is the exact
    * integer ADC distance in micro-units², ties broken by vec_id.
    */
  def ivfPqTopK(embs: DataFrame, queryIds: Seq[Long], k: Int = 10,
      nlist: Int = 8, nprobe: Int = 2, m: Int = 4, ksub: Int = 8,
      iters: Int = 2): DataFrame = {
    withQuantized(embs) { (full, dim) =>
      val coarse = fpTrainCentroids(full, nlist, dim, iters)
      val (sub, books) = pqTrain(full, dim, m, ksub, iters)
      val codeCols = (0 until m).map(s =>
        fpCellColOn(slice(col("q"), s * sub + 1, sub), books(s)))
      val assigned = full
        .withColumn("cid", fpCellCol(coarse))
        .withColumn("code", array(codeCols: _*))
        .cache()
      val distStructs = array(coarse.zipWithIndex.map { case (c, i) =>
        struct(fpScoreCol(c).as("d"), lit(i).as("cell"))
      }.toIndexedSeq: _*)
      // LUT[s][j] = score(q_s, cb_s[j]) = |cb|² − 2·q_s·cb; adding the
      // per-query constant Σ_s |q_s|² = |q|² turns scores into TRUE
      // squared distances, which the oracle computes directly
      val lutCol = array((0 until m).map(s =>
        array((0 until ksub).map(j =>
          fpScoreColOn(slice(col("q"), s * sub + 1, sub), books(s)(j))): _*)): _*)
      val probes = assigned.filter(col("vec_id").isin(queryIds: _*))
        .select(col("vec_id").as("query_id"), lutCol.as("lut"),
          graft.functions.LongDotProduct(col("q"), col("q")).as("q2"),
          explode(slice(array_sort(distStructs), 1, nprobe)).as("p"))
        .select(col("query_id"), col("lut"), col("q2"), col("p.cell").as("cid"))
      val adist = (0 until m).map(s =>
          element_at(element_at(col("lut"), s + 1), element_at(col("code"), s + 1) + 1))
        .reduce(_ + _) + col("q2")
      val perQuery = assigned.join(broadcast(probes), Seq("cid"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("adist", adist)
        .select("query_id", "vec_id", "adist")
      val w = Window.partitionBy("query_id").orderBy(asc("adist"), asc("vec_id"))
      val topk = perQuery.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
        .select(col("query_id"), col("vec_id"), col("adist"),
          col("rnk").cast("int").as("rnk"))
        .cache()
      // materialize BEFORE releasing `full`: `assigned`'s lazy cache reads
      // the fpQuantized projection, so unpersisting full earlier (as r8
      // did) recomputed it uncached inside the timed action
      topk.count()
      assigned.unpersist(blocking = false)
      topk
    }
  }

  /** The SemDeDup nlist schedule: hold the EXPECTED cluster size near
    * `targetCluster` so the within-cluster pair volume stays
    * ~n·targetCluster/2 (linear in n) instead of n²/const — the same
    * corpus-scheduled-knob discipline as [[graft.ops.Dedup.lshSchedule]].
    * Integer-exact on both engines: ceil-div via (n + t - 1) / t on
    * non-negative BIGINTs (Java `/` truncates ≡ DuckDB `//` floors
    * here), clamped to [4, 1024]. The 1024 top keeps the model at 2¹⁶
    * cells at dim 64, far inside [[MaxDriverCentroidCells]]; past it
    * clusters grow instead (measured at the 100× corpus, 200k vectors
    * at nlist 1024: 9.7 s `dedup_semantic`).
    */
  def semDedupSchedule(n: Long, targetCluster: Int = 125): Int =
    math.min(1024L, math.max(4L, (n + targetCluster - 1) / targetCluster)).toInt

  /** Corpus-size-aware [[semanticDedup]] at [[semDedupSchedule]] knobs.
    * The count() is one cheap driver action against columnar footers.
    */
  def semanticDedupAuto(embs: DataFrame, threshold: Double = 0.45,
      targetCluster: Int = 125, iters: Int = 2): DataFrame =
    semanticDedup(embs, threshold,
      nlist = semDedupSchedule(embs.count(), targetCluster), iters = iters)

  /** Semantic deduplication (SemDeDup, Abbas et al., arXiv:2303.09540):
    * embeddings are k-means-clustered, then near-duplicate PAIRS are
    * searched only WITHIN each cluster — the clustering is what bounds
    * the pair volume (SemDeDup's core trick: n²/nlist expected pair
    * candidates instead of n², with nlist scheduled ∝ corpus size the
    * same way lshSchedule scales LSH bits). Training is the shared
    * fixed-point Lloyd trainer (bit-identical to `sim_ann_ivf_exact`'s),
    * so the whole path is oracle-expressible; the keep rule is greedy
    * min-id (drop b when some a < b in the same cluster has
    * round(cos,6) ≥ threshold) — deterministic, unlike the paper's
    * "keep farthest from centroid" which ties on float distance.
    *
    * Output: one row per cluster — (cid, n_vecs, n_dropped, n_kept) —
    * the dedup-rate readout per semantic region. The within-cluster
    * self-join is keyed on cid; at scale raise nlist so clusters stay
    * O(target) and the join stays skew-free ([[semDedupSchedule]]).
    */
  def semanticDedup(embs: DataFrame, threshold: Double = 0.45,
      nlist: Int = 16, iters: Int = 2): DataFrame = {
    val cents = withQuantized(embs)((v, dim) => fpTrainCentroids(v, nlist, dim, iters))
    val assigned = fpQuantized(embs).withColumn("cid", fpCellCol(cents))
      .select(col("cid").cast("long").as("cid"), col("vec_id"), col("v"), col("nrm"))
      .cache()
    // within-cluster pair scan (keyed on cid), greedy min-id drop,
    // per-cluster survivor accounting
    val l = assigned.select(col("cid"), col("vec_id").as("a"),
      col("v").as("va"), col("nrm").as("na"))
    val r = assigned.select(col("cid"), col("vec_id").as("b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val dropped = l.join(r, Seq("cid"))
      .filter(col("a") < col("b"))
      .withColumn("cos", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cos") >= threshold)
      .select(col("cid"), col("b").as("vec_id")).distinct()
      .withColumn("drp", lit(1L))
    val out = assigned.select("cid", "vec_id")
      .join(dropped, Seq("cid", "vec_id"), "left")
      .groupBy("cid")
      .agg(count(lit(1)).as("n_vecs"),
        sum(coalesce(col("drp"), lit(0L))).as("n_dropped"))
      .withColumn("n_kept", col("n_vecs") - col("n_dropped"))
      .orderBy("cid")
      .cache()
    out.count()
    assigned.unpersist(blocking = false)
    out
  }

  /** Fixed-point IVF ANN — the oracle-gated twin of [[ivfTopK]]: the
    * k-means runs on BIGINT micro-unit vectors (component → floor(x·1e6))
    * with integer squared-L2 assignment and floor-of-double-division
    * centroid means, so training is order-free and bit-identical on any
    * engine/partitioning. floor(sum/count) in DOUBLE on both sides (sums
    * stay far below 2^53, so the division is exact) — deliberately NOT
    * integer division: Spark `div` truncates toward zero while DuckDB
    * `//` floors, and component sums go negative. Scoring and ranking
    * reuse the exact cosine tail. Same IVF scale shape: assignment and
    * probing are column expressions over `nlist` centroid literals; only
    * 64·nlist centroid summaries ever reach the driver.
    */
  def ivfFixedPointTopK(embs: DataFrame, queryIds: Seq[Long], k: Int,
      nlist: Int = 8, nprobe: Int = 2, iters: Int = 2): DataFrame = {
    def distCol(c: Array[Long]): Column = fpScoreCol(c)
    def cellCol(cs: Array[Array[Long]]): Column = fpCellCol(cs)

    val cents = withQuantized(embs)((v, dim) => fpTrainCentroids(v, nlist, dim, iters))

    val assigned = fpQuantized(embs).withColumn("cid", cellCol(cents)).cache()
    // nprobe nearest cells per query as a pure column expression — sort
    // (dist, cell) structs and slice; ties break to the lowest cell,
    // mirroring the oracle's ORDER BY dist, cell. The query set stays a
    // DataFrame end-to-end: ONE broadcast join on `cid` replaces the
    // former per-queryId union loop, so the plan is |Q|-independent
    // (the loop meant one union branch + one broadcast per query id —
    // a driver-plan explosion at |Q| in the thousands). Absent query
    // ids simply contribute no probe rows.
    val distStructs = array(cents.zipWithIndex.map { case (c, i) =>
      struct(distCol(c).as("d"), lit(i).as("cell"))
    }.toIndexedSeq: _*)
    val probes = assigned.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"),
        explode(slice(array_sort(distStructs), 1, nprobe)).as("p"))
      .select(col("query_id"), col("qv"), col("qnrm"), col("p.cell").as("cid"))
    val perQuery = assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6))
      .select("query_id", "vec_id", "cos")
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("vec_id"))
    val topk = perQuery.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cos", "rank")
      .cache()
    // materialize the tiny (k per query) result, then release the
    // per-vector cache — returning a lazy plan over `assigned` would
    // pin it in executor storage for the session lifetime
    topk.count()
    assigned.unpersist(blocking = false)
    topk
  }

  /** IVF (inverted-file) ANN: k-means cells + nprobe probing.
    *
    * Training: deterministic init (the `nlist` lowest vec_ids), `iters`
    * Lloyd rounds. Assignment is a pure column expression (argmin over
    * `nlist` codegen'd dot-product distances); the centroid update
    * aggregates (cell, dim) means via posexplode — 64·nlist rows total,
    * so only centroid *summaries* ever reach the driver, never vectors.
    * At 100 TB this is the standard IVF shape: train on a sample,
    * assign distributively, probe `nprobe` cells per query.
    */
  def ivfTopK(embs: DataFrame, queryIds: Seq[Long], k: Int,
      nlist: Int = 16, nprobe: Int = 4, iters: Int = 3): DataFrame = {
    val v = withNorm(embs).cache()
    val dim = v.select(size(col("v"))).head().getInt(0)
    requireCentroidsFitDriver(nlist, dim)

    def centroidLits(cs: Array[Array[Double]]): Seq[Column] =
      cs.toIndexedSeq.map(c => array(c.toIndexedSeq.map(lit): _*))

    // squared L2 distance via dots: |x|² - 2x·c + |c|²; |x|² constant per
    // row — irrelevant to argmin, so score by (|c|² - 2x·c)
    def cellCol(cs: Array[Array[Double]]): Column = {
      val scores = cs.zip(centroidLits(cs)).map { case (c, cl) =>
        val c2 = c.map(x => x * x).sum
        lit(c2) - lit(2.0) * dot(col("v"), cl)
      }
      val arr = array(scores.toIndexedSeq: _*)
      (array_position(arr, array_min(arr)) - 1).cast("int")
    }

    var centroids: Array[Array[Double]] = v.orderBy("vec_id").limit(nlist)
      .select("v").collect().map(_.getSeq[Double](0).toArray)
    for (_ <- 0 until iters) {
      val means = v.withColumn("cid", cellCol(centroids))
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cid", "pos").agg(avg("x").as("m"))
        .collect()
      val next = centroids.map(_.clone())
      means.foreach { r =>
        next(r.getAs[Int]("cid"))(r.getAs[Int]("pos")) = r.getAs[Double]("m")
      }
      centroids = next
    }

    val assigned = v.withColumn("cid", cellCol(centroids)).cache()
    // training caches are warm in `assigned`'s materialization; release
    // the intermediate projection so repeated calls don't pile up cache
    v.unpersist(blocking = false)
    // nprobe nearest cells per query as a pure column expression over
    // the same (|c|² - 2x·c) scores the assignment uses; ties break to
    // the lowest cell (struct sort on (d, cell)). The query set stays a
    // DataFrame: one broadcast join on `cid` — |Q|-independent plan,
    // no per-queryId union branches, and absent query ids contribute no
    // probe rows (same contract as bruteForceTopK/lshTopK).
    val distStructs = array(centroids.zip(centroidLits(centroids)).zipWithIndex.map {
      case ((c, cl), i) =>
        val c2 = c.map(x => x * x).sum
        struct((lit(c2) - lit(2.0) * dot(col("v"), cl)).as("d"), lit(i).as("cell"))
    }.toIndexedSeq: _*)
    val probes = assigned.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"),
        explode(slice(array_sort(distStructs), 1, nprobe)).as("p"))
      .select(col("query_id"), col("qv"), col("qnrm"), col("p.cell").as("cid"))
    val perQuery = assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6))
      .select("query_id", "vec_id", "cos")
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("vec_id"))
    val topk = perQuery.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cos", "rank")
      .cache()
    // materialize the tiny (k per query) result, then release the
    // per-vector cache — returning a lazy plan over `assigned` would
    // pin it in executor storage for the session lifetime
    topk.count()
    assigned.unpersist(blocking = false)
    topk
  }
}
