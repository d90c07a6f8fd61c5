package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Engine
import graft.expr.PatternCompiler
import graft.model.{ArrayOp, TriplePattern}
import QueriesShared._

/** Extension waves (rounds 9+): basket mining, linkage, selection, stats (part 1 of 3, original declaration order).
  *
  * One contiguous, ORDER-PRESERVING slice of the declared query
  * surface; [[Queries.registry]] concatenates the slices in the
  * original declaration order. Entries are (name -> Q) pairs exactly
  * as they appeared in the pre-split Queries.scala.
  */
private[api] object QueriesWavesA {
  val entries: Seq[(String, Q)] = Seq(
    // ===== Round 9: basket mining, record linkage, data selection =====

    // Market-basket association rules over co-ordered parts: support /
    // confidence / lift ×1e6 in exact integer arithmetic. The per-order
    // pair explode is bounded by basket width (≤ C(13,2) pair rows per
    // order here) and the support-≥2 prune cuts the edge set before the
    // metric joins — candidates-then-verify on keyed joins only.
    "assoc_part_pairs" -> Q(
      (s, d) => graft.ops.Basket.assocRules(Tables.lineitem(s, d), minSupport = 2)
        .orderBy("pa", "pb"),
      Some(
        """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
          |e AS (SELECT a.pk AS pa, b.pk AS pb, count(*) AS n_both
          |      FROM op a JOIN op b ON b.ok = a.ok AND a.pk < b.pk
          |      GROUP BY 1, 2 HAVING count(*) >= 2),
          |pp AS (SELECT pk, count(*) AS n_part FROM op GROUP BY 1),
          |n AS (SELECT count(DISTINCT ok) AS n_orders FROM op)
          |SELECT pa, pb, n_both,
          |  CAST(CAST(n_both AS HUGEINT) * 1000000 // CAST(na.n_part AS HUGEINT)
          |       AS BIGINT) AS conf_ab_x1e6,
          |  CAST(CAST(n_both AS HUGEINT) * CAST(n.n_orders AS HUGEINT) * 1000000
          |       // (CAST(na.n_part AS HUGEINT) * CAST(nb.n_part AS HUGEINT))
          |       AS BIGINT) AS lift_x1e6
          |FROM e JOIN pp na ON na.pk = pa JOIN pp nb ON nb.pk = pb CROSS JOIN n
          |ORDER BY pa, pb""".stripMargin)),

    // Triangle census on the support-pruned co-order graph (edges
    // oriented a < b so each triangle counts once as a < b < c): the
    // global clustering readout. Both joins are keyed on the pruned
    // edge set — Σ deg² of the THINNED adjacency, not the raw one.
    "graph_triangles" -> Q(
      (s, d) => graft.ops.Basket.triangleStats(Tables.lineitem(s, d), minSupport = 2),
      Some(
        """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
          |e AS (SELECT a.pk AS pa, b.pk AS pb
          |      FROM op a JOIN op b ON b.ok = a.ok AND a.pk < b.pk
          |      GROUP BY 1, 2 HAVING count(*) >= 2),
          |w AS (SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
          |      FROM e e1 JOIN e e2 ON e2.pa = e1.pb)
          |SELECT (SELECT count(*) FROM e) AS n_edges,
          |  (SELECT count(*) FROM w) AS n_wedges,
          |  (SELECT count(*) FROM w WHERE EXISTS
          |     (SELECT 1 FROM e WHERE e.pa = w.a AND e.pb = w.c)) AS n_triangles""".stripMargin)),

    // k-core of the support-pruned co-order graph: 5 fixed peeling
    // passes (degree-<3 nodes drop, induced edges re-derived — one
    // degree agg + two semi-joins per round on the SHRINKING edge
    // set). Fixed rounds keep the oracle a mechanical unroll; the spec
    // asserts the corpus fixpoint is reached within them.
    "graph_kcore" -> Q(
      (s, d) => graft.ops.Basket.kCore(Tables.lineitem(s, d), k = 3, rounds = 5),
      Some {
        // every e$i is referenced ~3× by round i+1 — MATERIALIZED stops
        // DuckDB's default CTE inlining from re-evaluating each round
        // combinatorially (the SQL mirror of the lineage truncation the
        // Spark side does with localCheckpoint)
        val base =
          """WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
            |e0 AS MATERIALIZED (SELECT a.pk AS pa, b.pk AS pb
            |      FROM op a JOIN op b ON b.ok = a.ok AND a.pk < b.pk
            |      GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin
        val rounds = (1 to 5).map { i =>
          s"""d$i AS (SELECT node, count(*) AS deg FROM (
             |  SELECT pa AS node FROM e${i - 1} UNION ALL SELECT pb FROM e${i - 1})
             |  GROUP BY 1),
             |k$i AS MATERIALIZED (SELECT node FROM d$i WHERE deg >= 3),
             |e$i AS MATERIALIZED (SELECT e.pa, e.pb FROM e${i - 1} e
             |  JOIN k$i ka ON ka.node = e.pa
             |  JOIN k$i kb ON kb.node = e.pb)""".stripMargin
        }.mkString(",\n")
        s"""$base,
           |$rounds
           |SELECT (SELECT count(*) FROM
           |    (SELECT pa AS n FROM e5 UNION SELECT pb FROM e5)) AS n_core_nodes,
           |  (SELECT count(*) FROM e5) AS n_core_edges""".stripMargin
      }),

    // Chi-square independence test between market segment and order
    // priority (the feature-dependence screen a curation pipeline runs
    // before trusting a stratification): per-cell (O·T − R·C)²·1e6 /
    // (R·C·T) floored in DECIMAL(38,0), summed — exact integer
    // arithmetic, so the statistic hash-matches across engines. One
    // fact-dim broadcast join + four aggregations of the pair frame.
    "stats_chi2_segments" -> Q(
      (s, d) => {
        val j = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d)
            .select(col("c_custkey").as("o_custkey"), col("c_mktsegment").as("seg"))),
            "o_custkey")
          .select(col("seg"), col("o_orderpriority").as("prio"))
        val obs = j.groupBy("seg", "prio").agg(count(lit(1)).as("obs"))
        val rn = j.groupBy("seg").agg(count(lit(1)).as("rn"))
        val cn = j.groupBy("prio").agg(count(lit(1)).as("cn"))
        val tn = j.agg(count(lit(1)).as("tn"))
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        val cells = obs.join(rn, "seg").join(cn, "prio")
          .crossJoin(broadcast(tn))
          .withColumn("term_x1e6", graft.functions.GraftFunctions.longDiv(
            (dec(col("obs")) * dec(col("tn")) - dec(col("rn")) * dec(col("cn")))
              * (dec(col("obs")) * dec(col("tn")) - dec(col("rn")) * dec(col("cn")))
              * dec(lit(1000000L)),
            dec(col("rn")) * dec(col("cn")) * dec(col("tn"))).cast("long"))
        cells.agg(count(lit(1)).as("n_cells"),
            countDistinct(col("seg")).as("n_seg"),
            countDistinct(col("prio")).as("n_prio"),
            sum("term_x1e6").cast("long").as("chi2_x1e6"))
          .select(col("n_cells"),
            ((col("n_seg") - 1) * (col("n_prio") - 1)).cast("long").as("dof"),
            col("chi2_x1e6"))
      },
      Some(
        """WITH j AS (SELECT c.c_mktsegment AS seg, o.o_orderpriority AS prio
          |           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
          |obs AS (SELECT seg, prio, count(*) AS obs FROM j GROUP BY 1, 2),
          |r AS (SELECT seg, count(*) AS rn FROM j GROUP BY 1),
          |c AS (SELECT prio, count(*) AS cn FROM j GROUP BY 1),
          |t AS (SELECT count(*) AS tn FROM j),
          |cells AS (SELECT obs.seg, obs.prio,
          |    CAST((CAST(obs AS HUGEINT) * tn - CAST(rn AS HUGEINT) * cn)
          |         * (CAST(obs AS HUGEINT) * tn - CAST(rn AS HUGEINT) * cn)
          |         * 1000000
          |         // (CAST(rn AS HUGEINT) * cn * tn) AS BIGINT) AS term_x1e6
          |  FROM obs JOIN r USING (seg) JOIN c USING (prio) CROSS JOIN t)
          |SELECT count(*) AS n_cells,
          |  CAST((count(DISTINCT seg) - 1) * (count(DISTINCT prio) - 1) AS BIGINT) AS dof,
          |  CAST(sum(term_x1e6) AS BIGINT) AS chi2_x1e6
          |FROM cells""".stripMargin)),

    // Blocked fuzzy record linkage over customer names: collapse to
    // DISTINCT names first (exact-dup mass becomes a multiplicity and
    // the dist=0 row), then block on the name minus its last 2 chars
    // and verify with Levenshtein ≤ 2 inside the block. The collapse
    // is the scale move — block width is bounded by the suffix charset
    // (≤ |charset|²) REGARDLESS of how often a name repeats, so pair
    // volume tracks distinct names, not corpus rows (measured: the
    // pre-collapse form cost 96× at the name-replicated 10× corpus).
    "dedup_fuzzy_names" -> Q(
      (s, d) => graft.ops.Linkage.fuzzyNameSummary(
          Tables.customer(s, d), "c_name")
        .orderBy("dist"),
      Some(
        """WITH nm AS (SELECT c_name AS name, count(*) AS m FROM customer GROUP BY 1),
          |k AS (SELECT name, m,
          |        substring(name, 1, length(name) - 2) AS block FROM nm),
          |fz AS (SELECT a.block, a.m * b.m AS w, levenshtein(a.name, b.name) AS dist
          |       FROM k a JOIN k b ON b.block = a.block AND a.name < b.name),
          |ex AS (SELECT CAST(0 AS BIGINT) AS dist,
          |         CAST(sum(m * (m - 1) // 2) AS BIGINT) AS n_pairs,
          |         count(DISTINCT block) AS n_blocks
          |       FROM k WHERE m > 1 HAVING sum(m * (m - 1) // 2) IS NOT NULL)
          |SELECT * FROM ex
          |UNION ALL
          |SELECT CAST(dist AS BIGINT) AS dist, CAST(sum(w) AS BIGINT) AS n_pairs,
          |  count(DISTINCT block) AS n_blocks
          |FROM fz WHERE dist <= 2 GROUP BY dist
          |ORDER BY dist""".stripMargin)),

    // Aggressive canonicalization dedup: lowercase + strip punctuation
    // + collapse whitespace, over a corpus with planted punct/case
    // variants (doc_id < 50 re-appended under id+300000 wrapped in
    // punctuation). `exact_too` marks groups the whitespace-normalized
    // fingerprint (dedup_exact's key) already catches — false rows are
    // what canonicalization alone buys. Same one-shuffle hash-groupBy
    // as exact dedup.
    "dedup_canonical" -> Q(
      (s, d) => {
        val base = Tables.documents(s, d)
        val plants = base.filter(col("doc_id") < 50)
          .withColumn("doc_id", col("doc_id") + 300000)
          .withColumn("text", concat(lit("*** "), upper(col("text")), lit(" ???")))
        graft.ops.Linkage.canonicalGroups(base.unionByName(plants))
          .orderBy("cfp")
      },
      Some(
        """WITH docs AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 300000, '*** ' || upper(text) || ' ???'
          |  FROM documents WHERE doc_id < 50),
          |c AS (SELECT doc_id,
          |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
          |      ' +', ' ', 'g'))) AS cfp,
          |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
          |  FROM docs)
          |SELECT cfp, count(*) AS n, min(doc_id) AS canonical_id,
          |  (count(DISTINCT fp) = 1) AS exact_too
          |FROM c GROUP BY cfp HAVING count(*) > 1 ORDER BY cfp""".stripMargin)),

    // DSIR data selection (Xie et al. 2023): rank docs by the hashed-
    // bigram importance weight of a target distribution (the 'en'
    // slice) over the raw corpus. The model is a FIXED 4096-bucket
    // log-ratio table (two map-side-combined aggs) broadcast back onto
    // the token stream; per-bucket scores are floored to ×1e6 BIGINT
    // before the per-doc sum, so doc totals are order-free integer
    // arithmetic. Top 50 by weight = the kept slice.
    "pipeline_dsir_sample" -> Q(
      (s, d) => graft.ops.Selection.dsirWeights(Tables.documents(s, d))
        .orderBy(desc("avg_score_x1e6"), asc("doc_id"))
        .limit(50),
      Some(
        s"""WITH t AS (SELECT doc_id, lang, source,
           |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
           |  FROM documents),
           |bg AS (SELECT doc_id, lang, source,
           |    unnest(list_transform(generate_series(1, len(toks) - 1),
           |      i -> toks[i] || ' ' || toks[i + 1])) AS bg
           |  FROM t WHERE len(toks) >= 2),
           |bk AS (SELECT doc_id, lang, source,
           |    ${GraphSql.md5Hash60("bg")} % 4096 AS bucket FROM bg),
           |counts AS (SELECT bucket, count(*) AS cr,
           |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct FROM bk GROUP BY 1),
           |tot AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM counts),
           |model AS (SELECT counts.bucket,
           |    CAST(floor((ln(counts.ct + 1) - ln(counts.cr + 1)
           |        + ln(tot.tr + 4096) - ln(tot.tt + 4096)) * 1e6) AS BIGINT) AS score_x1e6
           |  FROM counts CROSS JOIN tot),
           |w AS (SELECT doc_id, lang, source, count(*) AS n_bigrams,
           |    sum(score_x1e6) AS w FROM bk JOIN model USING (bucket)
           |  GROUP BY 1, 2, 3)
           |SELECT doc_id, lang, source, n_bigrams,
           |  CAST(CAST(w AS HUGEINT) // CAST(n_bigrams AS HUGEINT) AS BIGINT) AS avg_score_x1e6
           |FROM w ORDER BY avg_score_x1e6 DESC, doc_id LIMIT 50""".stripMargin)),

    // UniMax language mixing (Chung et al., ICLR 2023): spend 90% of
    // the corpus character budget as uniformly across languages as the
    // 1-epoch repeat cap allows. Closed water-filling form — no
    // iteration: capped languages take their capacity, the rest split
    // the remainder exactly (integer division, deterministic remainder
    // distribution; allocations sum to the budget EXACTLY). One corpus
    // agg to a |languages|-row frame; all windows on that tiny frame.
    "pipeline_unimax_mix" -> Q(
      (s, d) => graft.ops.Selection.unimaxAllocation(Tables.documents(s, d))
        .orderBy("lang"),
      Some(
        """WITH lt AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS toks
          |            FROM documents GROUP BY 1),
          |b AS (SELECT CAST(sum(toks) * 9 // 10 AS BIGINT) AS budget FROM lt),
          |s AS (SELECT lang, toks, toks * 1 AS cap,
          |        row_number() OVER (ORDER BY toks * 1, lang) AS i,
          |        sum(toks * 1) OVER (ORDER BY toks * 1, lang
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
          |        count(*) OVER () AS n
          |      FROM lt),
          |f AS (SELECT s.*, b.budget,
          |        CASE WHEN cap * (n - i + 1) <= budget - (p - cap)
          |             THEN 1 ELSE 0 END AS isfull
          |      FROM s CROSS JOIN b),
          |k AS (SELECT COALESCE(max(CASE WHEN isfull = 1 THEN i END), 0) AS k,
          |             COALESCE(max(CASE WHEN isfull = 1 THEN p END), 0) AS pk FROM f)
          |SELECT lang, toks,
          |  CAST(CASE WHEN i <= k.k THEN cap
          |       ELSE (budget - k.pk) // (n - k.k)
          |            + CASE WHEN i - k.k <= (budget - k.pk) % (n - k.k)
          |              THEN 1 ELSE 0 END
          |  END AS BIGINT) AS alloc,
          |  CAST(CASE WHEN i <= k.k THEN cap
          |       ELSE (budget - k.pk) // (n - k.k)
          |            + CASE WHEN i - k.k <= (budget - k.pk) % (n - k.k)
          |              THEN 1 ELSE 0 END
          |  END * 1000000 // toks AS BIGINT) AS epochs_x1e6
          |FROM f CROSS JOIN k ORDER BY lang""".stripMargin)),

    // Zipf's-law fit over the term-frequency ranks: slope of
    // log(freq) vs log(rank) for the top 1000 terms, in fixed-point
    // least squares (per-point logs floored to ×1e6 BIGINT, then the
    // closed-form slope in DECIMAL(38,0) integer sums — order-free).
    // The rank window runs over the VOCABULARY frame (Heaps-bounded,
    // ~√corpus), not the corpus; the corpus-order work is one token agg.
    "text_zipf_slope" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val tf = Tables.documents(s, d)
          .select(explode(split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " ")).as("w"))
          .filter(col("w") =!= "")
          .groupBy("w").agg(count(lit(1)).as("cnt"))
        val pts = tf
          .withColumn("rnk", row_number().over(Window.orderBy(desc("cnt"), asc("w"))))
          .filter(col("rnk") <= 1000)
          .select(floor(log(col("rnk")) * 1e6).cast("long").as("x"),
            floor(log(col("cnt")) * 1e6).cast("long").as("y"))
        def dec(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          c.cast("decimal(38,0)")
        pts.agg(count(lit(1)).as("n"),
            sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
            sum(dec(col("x")) * dec(col("y"))).as("sxy"),
            sum(dec(col("x")) * dec(col("x"))).as("sxx"))
          .select(col("n").as("n_terms"),
            expr("""cast((cast(n as decimal(38,0)) * sxy - sx * sy) * 1000000
                   | div (cast(n as decimal(38,0)) * sxx - sx * sx) as bigint)""".stripMargin)
              .as("slope_x1e6"))
      },
      Some(
        """WITH tf AS (
          |  SELECT w, count(*) AS cnt FROM (
          |    SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
          |    FROM documents) WHERE w <> '' GROUP BY w),
          |pts AS (
          |  SELECT CAST(floor(ln(rnk) * 1e6) AS BIGINT) AS x,
          |         CAST(floor(ln(cnt) * 1e6) AS BIGINT) AS y
          |  FROM (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rnk FROM tf)
          |  WHERE rnk <= 1000),
          |s AS (SELECT count(*) AS n,
          |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
          |    sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
          |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
          |  FROM pts)
          |SELECT n AS n_terms,
          |  CAST((CAST(n AS HUGEINT) * sxy - sx * sy) * 1000000
          |       // (CAST(n AS HUGEINT) * sxx - sx * sx) AS BIGINT) AS slope_x1e6
          |FROM s""".stripMargin)),

    // RFM customer segmentation: quartile recency / frequency /
    // monetary labels per market segment (rank windows PARTITIONED by
    // segment — the winsorize discipline; the 100 TB swap is KLL
    // boundaries with assignment unchanged). All metrics integer (days
    // since 1992-01-01, order count, cents); ntile ties broken by a
    // total order so both engines bucket identically.
    "customer_rfm" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val m = Tables.orders(s, d)
          .groupBy("o_custkey")
          .agg(datediff(max(col("o_orderdate").cast("date")),
              to_date(lit("1992-01-01"))).cast("long").as("r_days"),
            count(lit(1)).as("freq"),
            sum(floor(col("o_totalprice") * 100).cast("long")).as("mon_c"))
          .join(Tables.customer(s, d)
            .select(col("c_custkey").as("o_custkey"), col("c_mktsegment").as("seg")), "o_custkey")
        def q(metric: String): org.apache.spark.sql.Column = ntile(4).over(
          Window.partitionBy("seg").orderBy(col(metric), col("o_custkey")))
        m.select(col("seg"), col("o_custkey"), col("mon_c"),
            q("r_days").as("r_q"), q("freq").as("f_q"), q("mon_c").as("m_q"))
          .groupBy("seg", "r_q", "f_q", "m_q")
          .agg(count(lit(1)).as("n_customers"),
            expr("sum(mon_c) div count(1)").cast("long").as("avg_monetary_c"))
          .withColumn("r_q", col("r_q").cast("long"))
          .withColumn("f_q", col("f_q").cast("long"))
          .withColumn("m_q", col("m_q").cast("long"))
          .select("seg", "r_q", "f_q", "m_q", "n_customers", "avg_monetary_c")
          .orderBy("seg", "r_q", "f_q", "m_q")
      },
      Some(
        """WITH m AS (
          |  SELECT o_custkey,
          |    CAST(date_diff('day', DATE '1992-01-01', CAST(max(o_orderdate) AS DATE)) AS BIGINT) AS r_days,
          |    count(*) AS freq,
          |    sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS mon_c
          |  FROM orders GROUP BY 1),
          |j AS (SELECT m.*, c.c_mktsegment AS seg FROM m
          |      JOIN customer c ON c.c_custkey = m.o_custkey),
          |q AS (SELECT seg, o_custkey, mon_c,
          |    ntile(4) OVER (PARTITION BY seg ORDER BY r_days, o_custkey) AS r_q,
          |    ntile(4) OVER (PARTITION BY seg ORDER BY freq, o_custkey) AS f_q,
          |    ntile(4) OVER (PARTITION BY seg ORDER BY mon_c, o_custkey) AS m_q
          |  FROM j)
          |SELECT seg, CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
          |  CAST(m_q AS BIGINT) AS m_q, count(*) AS n_customers,
          |  CAST(sum(mon_c) // count(*) AS BIGINT) AS avg_monetary_c
          |FROM q GROUP BY seg, r_q, f_q, m_q
          |ORDER BY seg, r_q, f_q, m_q""".stripMargin)),

    // Column profiling of `orders` (the data-quality readout a pipeline
    // runs before trusting a new drop): per column — nulls, exact
    // distinct count, min/max as canonical strings. TWO aggregates, not
    // one: a single combined agg forces Catalyst's distinct-rewrite
    // Expand (×7 input rows, each carrying every non-distinct agg
    // input) — measured 16.1 s at 10×. Split, the distinct-free base
    // agg partial-aggregates to one row per task (no Expand, ~free)
    // and the distinct-only agg's Expand emits NARROW (gid, value)
    // rows that map-side dedup before the shuffle — identical output,
    // 5× less wall at 10× (3.1 s). The two 1-row frames meet in a
    // broadcast cross.
    "profile_columns" -> Q(
      (s, d) => {
        val p = Tables.orders(s, d).select(
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          floor(col("o_totalprice") * 100).cast("long").as("o_totalprice_c"),
          col("o_orderdate"), col("o_orderpriority"))
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice_c", "o_orderdate", "o_orderpriority")
        val baseAggs = count(lit(1)).as("n_rows") +: cols.flatMap { c => Seq(
          count(col(c)).as(s"${c}_nn"),
          min(col(c)).cast("string").as(s"${c}_min"),
          max(col(c)).cast("string").as(s"${c}_max")) }
        val distAggs = cols.map(c => countDistinct(col(c)).as(s"${c}_nd"))
        val stackExpr = "stack(" + cols.size + ", " + cols.map { c =>
          s"'$c', n_rows - ${c}_nn, ${c}_nd, ${c}_min, ${c}_max"
        }.mkString(", ") + ") as (column_name, n_nulls, n_distinct, min_s, max_s)"
        p.agg(baseAggs.head, baseAggs.tail: _*)
          .crossJoin(broadcast(p.agg(distAggs.head, distAggs.tail: _*)))
          .select(expr(stackExpr))
          .orderBy("column_name")
      },
      Some(
        """WITH p AS (SELECT o_orderkey, o_custkey, o_orderstatus,
          |    CAST(floor(o_totalprice * 100) AS BIGINT) AS o_totalprice_c,
          |    o_orderdate, o_orderpriority FROM orders)
          |SELECT 'o_custkey' AS column_name,
          |  count(*) - count(o_custkey) AS n_nulls, count(DISTINCT o_custkey) AS n_distinct,
          |  CAST(min(o_custkey) AS VARCHAR) AS min_s, CAST(max(o_custkey) AS VARCHAR) AS max_s FROM p
          |UNION ALL SELECT 'o_orderdate', count(*) - count(o_orderdate), count(DISTINCT o_orderdate),
          |  CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR) FROM p
          |UNION ALL SELECT 'o_orderkey', count(*) - count(o_orderkey), count(DISTINCT o_orderkey),
          |  CAST(min(o_orderkey) AS VARCHAR), CAST(max(o_orderkey) AS VARCHAR) FROM p
          |UNION ALL SELECT 'o_orderpriority', count(*) - count(o_orderpriority), count(DISTINCT o_orderpriority),
          |  min(o_orderpriority), max(o_orderpriority) FROM p
          |UNION ALL SELECT 'o_orderstatus', count(*) - count(o_orderstatus), count(DISTINCT o_orderstatus),
          |  min(o_orderstatus), max(o_orderstatus) FROM p
          |UNION ALL SELECT 'o_totalprice_c', count(*) - count(o_totalprice_c), count(DISTINCT o_totalprice_c),
          |  CAST(min(o_totalprice_c) AS VARCHAR), CAST(max(o_totalprice_c) AS VARCHAR) FROM p
          |ORDER BY column_name""".stripMargin)),

    // Integer EWMA of hourly event volume (α = 1/2 truncated at 10
    // lags): each hour's count SCATTERS to the next 10 hours with
    // weight 2^(9−lag) — an explode-then-agg (no range join, no
    // window), one shuffle on (type, hour). Weighted sums are exact
    // integers; the readout is the last 24 hours per type.
    "events_ewma" -> Q(
      (s, d) => {
        val hourly = Tables.events(s, d)
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
          .agg(count(lit(1)).as("n"))
        val mx = Tables.events(s, d)
          .agg(max(date_trunc("hour", col("ts"))).as("mx"))
        hourly
          .withColumn("lag", explode(expr("sequence(0, 9)")))
          .withColumn("t", expr("hr + make_interval(0, 0, 0, 0, lag, 0, 0)"))
          .withColumn("wgt", expr("shiftleft(cast(1 as bigint), 9 - lag)"))
          .groupBy("event_type", "t")
          .agg(sum(col("n") * col("wgt")).as("ewma_wsum"))
          .crossJoin(broadcast(mx))
          .filter(col("t") <= col("mx") &&
            col("t") >= expr("mx - interval 23 hours"))
          .select("event_type", "t", "ewma_wsum")
          .orderBy("event_type", "t")
      },
      Some(
        """WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS hr,
          |    count(*) AS n FROM events GROUP BY 1, 2),
          |mx AS (SELECT max(date_trunc('hour', ts)) AS mx FROM events),
          |c AS (SELECT event_type,
          |    hr + lag * (INTERVAL 1 HOUR) AS t,
          |    n * (1 << (9 - lag)) AS c
          |  FROM hourly, unnest(generate_series(0, 9)) AS u(lag))
          |SELECT event_type, t, CAST(sum(c) AS BIGINT) AS ewma_wsum
          |FROM c CROSS JOIN mx
          |WHERE t <= mx AND t >= mx - INTERVAL 23 HOUR
          |GROUP BY event_type, t ORDER BY event_type, t""".stripMargin)),

    // Shuffle-key skew diagnostic for the three lineitem join keys:
    // exact distinct counts, hottest-key share, and the max/avg
    // imbalance over 32 md5 hash buckets — the pre-join readout that
    // decides salting / AQE-skew handling before a 100 TB shuffle.
    // Everything is two small aggregations per key; integer ratios.
    "stats_key_skew" -> Q(
      (s, d) => {
        val li = Tables.lineitem(s, d)
        def skewFor(keyCol: String): DataFrame = {
          val keyed = li.select(col(keyCol).cast("long").as("k"))
          val perKey = keyed.groupBy("k").agg(count(lit(1)).as("cnt"))
          val keyAgg = perKey.agg(sum("cnt").as("n"),
            count(lit(1)).as("n_distinct"), max("cnt").as("max_key"))
          val bktAgg = keyed
            .groupBy(pmod(graft.functions.GraftFunctions.md5Hash60(col("k")), lit(32L)).as("bkt"))
            .agg(count(lit(1)).as("bn"))
            .agg(max("bn").as("max_bucket"))
          keyAgg.crossJoin(broadcast(bktAgg))
            .select(lit(keyCol).as("key_name"), col("n").cast("long").as("n"),
              col("n_distinct"),
              expr("max_key * 1000000L div n").cast("long").as("top_key_share_x1e6"),
              expr("max_bucket * 32L * 1000000L div n").cast("long").as("bucket_imbalance_x1e6"))
        }
        skewFor("l_orderkey")
          .unionByName(skewFor("l_partkey"))
          .unionByName(skewFor("l_suppkey"))
          .orderBy("key_name")
      },
      Some(
        s"""WITH ks AS (
           |  SELECT 'l_orderkey' AS key_name, l_orderkey AS k FROM lineitem
           |  UNION ALL SELECT 'l_partkey', l_partkey FROM lineitem
           |  UNION ALL SELECT 'l_suppkey', l_suppkey FROM lineitem),
           |pk AS (SELECT key_name, k, count(*) AS cnt FROM ks GROUP BY 1, 2),
           |ka AS (SELECT key_name, sum(cnt) AS n, count(*) AS n_distinct,
           |    max(cnt) AS max_key FROM pk GROUP BY 1),
           |bk AS (SELECT key_name, ${GraphSql.md5Hash60("CAST(k AS VARCHAR)")} % 32 AS bkt,
           |    count(*) AS bn FROM ks GROUP BY 1, 2),
           |ba AS (SELECT key_name, max(bn) AS max_bucket FROM bk GROUP BY 1)
           |SELECT ka.key_name, CAST(ka.n AS BIGINT) AS n, ka.n_distinct,
           |  CAST(max_key * 1000000 // ka.n AS BIGINT) AS top_key_share_x1e6,
           |  CAST(max_bucket * 32 * 1000000 // ka.n AS BIGINT) AS bucket_imbalance_x1e6
           |FROM ka JOIN ba USING (key_name) ORDER BY ka.key_name""".stripMargin)),

    // Dominant principal component of the embedding cloud by
    // fixed-point power iteration (All-but-the-Top, Mu & Viswanath
    // 1702.01417 — the direction a whitening pipeline removes first).
    // Matrix-free: each step is one scan computing a codegen'd BIGINT
    // dot (LongDotProduct) + a 64-row per-dim aggregate; the iterate is
    // rescaled to |v|∞ = 2²⁰ by truncating integral division, so every
    // step is exact integer arithmetic and the unrolled 3-step DuckDB
    // oracle gates it hash-exact. Covariance never materializes.
    "emb_pca_power" -> Q(
      (s, d) => graft.ops.Spectral.pcaPower(Tables.embeddings(s, d), iters = 3),
      Some(
        """WITH q0 AS (SELECT list_transform(CAST(embedding AS DOUBLE[]),
          |    x -> CAST(floor(x * 1000000) AS BIGINT)) AS xq FROM embeddings),
          |dims AS (SELECT unnest(generate_series(1,
          |    (SELECT len(xq) FROM q0 LIMIT 1))) AS d),
          |m AS (SELECT d, CAST(sum(xq[d]) AS HUGEINT) // count(*) AS mu
          |      FROM q0 CROSS JOIN dims GROUP BY d),
          |ml AS (SELECT list(CAST(mu AS BIGINT) ORDER BY d) AS mu FROM m),
          |qc AS (SELECT list_transform(generate_series(1, len(xq)),
          |         i -> xq[i] - mu[i]) AS q
          |       FROM q0 CROSS JOIN ml),
          |v0 AS (SELECT list_transform(generate_series(1,
          |         (SELECT len(q) FROM qc LIMIT 1)),
          |         i -> CAST(1048576 AS BIGINT)) AS v),
          |d1 AS (SELECT q, list_reduce(list_transform(generate_series(1, len(q)),
          |         i -> q[i] * v[i]), (a, b) -> a + b) AS dot
          |       FROM qc CROSS JOIN v0),
          |s1 AS (SELECT d, sum(CAST(q[d] AS HUGEINT) * CAST(dot AS HUGEINT)) AS s
          |       FROM d1 CROSS JOIN dims GROUP BY d),
          |x1 AS (SELECT greatest(max(abs(s)), 1) AS mx FROM s1),
          |v1 AS (SELECT list(CAST(s * 1048576 // mx AS BIGINT) ORDER BY d) AS v
          |       FROM s1 CROSS JOIN x1),
          |d2 AS (SELECT q, list_reduce(list_transform(generate_series(1, len(q)),
          |         i -> q[i] * v[i]), (a, b) -> a + b) AS dot
          |       FROM qc CROSS JOIN v1),
          |s2 AS (SELECT d, sum(CAST(q[d] AS HUGEINT) * CAST(dot AS HUGEINT)) AS s
          |       FROM d2 CROSS JOIN dims GROUP BY d),
          |x2 AS (SELECT greatest(max(abs(s)), 1) AS mx FROM s2),
          |v2 AS (SELECT list(CAST(s * 1048576 // mx AS BIGINT) ORDER BY d) AS v
          |       FROM s2 CROSS JOIN x2),
          |d3 AS (SELECT q, list_reduce(list_transform(generate_series(1, len(q)),
          |         i -> q[i] * v[i]), (a, b) -> a + b) AS dot
          |       FROM qc CROSS JOIN v2),
          |s3 AS (SELECT d, sum(CAST(q[d] AS HUGEINT) * CAST(dot AS HUGEINT)) AS s
          |       FROM d3 CROSS JOIN dims GROUP BY d),
          |x3 AS (SELECT greatest(max(abs(s)), 1) AS mx FROM s3)
          |SELECT CAST(d AS BIGINT) AS d, CAST(s * 1048576 // mx AS BIGINT) AS v
          |FROM s3 CROSS JOIN x3 ORDER BY d""".stripMargin)),

    // Matryoshka-style truncation quality: the fraction of each
    // vector's energy kept by its first 16 of 64 dims, ×1e6 in exact
    // integer arithmetic over ×1e6-quantized components (the
    // emb_quantize_error discipline), averaged per label. Pure codegen
    // scan + one tiny agg — no shuffle before the label groupBy.
    "emb_truncate_error" -> Q(
      (s, d) => Tables.embeddings(s, d)
        .select(col("label").cast("long").as("label"),
          expr("transform(cast(embedding as array<double>), x -> cast(floor(x * 1000000) as bigint))").as("q"))
        .withColumn("e_full", expr("aggregate(q, cast(0 as bigint), (a, x) -> a + x * x)"))
        .withColumn("e_head", expr("aggregate(slice(q, 1, 16), cast(0 as bigint), (a, x) -> a + x * x)"))
        .filter(col("e_full") > 0)
        .withColumn("kept_x1e6", expr(
          "cast(cast(e_head as decimal(38,0)) * 1000000 div cast(e_full as decimal(38,0)) as bigint)"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          expr("sum(kept_x1e6) div count(1)").cast("long").as("avg_kept_x1e6"))
        .orderBy("label"),
      Some(
        """WITH v AS (SELECT label, list_transform(CAST(embedding AS DOUBLE[]),
          |    x -> CAST(floor(x * 1000000) AS BIGINT)) AS q FROM embeddings),
          |e AS (SELECT label,
          |    list_reduce(list_prepend(CAST(0 AS BIGINT),
          |      list_transform(q, x -> x * x)), (a, b) -> a + b) AS e_full,
          |    list_reduce(list_prepend(CAST(0 AS BIGINT),
          |      list_transform(q[1:16], x -> x * x)), (a, b) -> a + b) AS e_head
          |  FROM v),
          |k AS (SELECT label,
          |    CAST(CAST(e_head AS HUGEINT) * 1000000 // CAST(e_full AS HUGEINT) AS BIGINT) AS kept_x1e6
          |  FROM e WHERE e_full > 0)
          |SELECT CAST(label AS BIGINT) AS label, count(*) AS n_vecs,
          |  CAST(sum(CAST(kept_x1e6 AS HUGEINT)) // count(*) AS BIGINT) AS avg_kept_x1e6
          |FROM k GROUP BY label ORDER BY label""".stripMargin)),

    // Heavy hitters by a mergeable Misra-Gries sketch with exact
    // recount (functions/MisraGries.scala): the sketch pass is one
    // map-side-combined aggregation whose shuffle payload is a
    // ≤2·cap-entry map per partition — the token MASS never shuffles —
    // and nominates a candidate superset (guarantee: any token with
    // freq > n/cap survives, since the tracked undercount dec ≤
    // n/(cap+1)). The recount then filters the stream against the
    // broadcast candidates and thresholds on EXACT counts, so the
    // output is the deterministic set {freq·cap > n} — sketch
    // nondeterminism is filtered out and the oracle is a plain HAVING.
    "agg_heavy_hitters" -> Q(
      (s, d) => {
        val cap = 512
        val toks = Tables.documents(s, d)
          .select(explode(graft.ops.TextOps.tokens(col("text"))).as("w"))
          .filter(col("w") =!= "")
        val sketch = toks.agg(count(lit(1)).as("n"),
          graft.functions.MisraGries.candidates(col("w"), cap).as("cand"))
        val cands = sketch.select(col("n"), explode(col("cand")).as("w"))
        toks.join(broadcast(cands), "w")
          .groupBy("w", "n").agg(count(lit(1)).as("n_occ"))
          .filter(col("n_occ") * cap > col("n"))
          .select(col("w"), col("n_occ").cast("long").as("n_occ"))
          .orderBy(desc("n_occ"), asc("w"))
      },
      Some(
        """WITH tok AS (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS w
          |            FROM documents),
          |t AS (SELECT w FROM tok WHERE w <> ''),
          |n AS (SELECT count(*) AS n FROM t)
          |SELECT w, count(*) AS n_occ
          |FROM t CROSS JOIN n GROUP BY w, n.n HAVING count(*) * 512 > n.n
          |ORDER BY n_occ DESC, w""".stripMargin)),

    // Exact two-sample Kolmogorov-Smirnov statistic between the
    // quantity distributions of returned (A) vs refused (R) lineitems:
    // KS = max |F_A − F_R| computed as integers — per-value counts, a
    // cumulative window over the DISTINCT-VALUE frame (the only
    // SinglePartition window, bounded by the value domain ≤ 50 rows,
    // not the corpus — for continuous domains the KLL-binned variant is
    // the declared path, the winsorize_fast discipline), and the
    // deviation cross-multiplied (|cumA·nR − cumR·nA|) in DECIMAL so no
    // rational ever rounds before the final ×1e6 floor.
    "stats_ks_flags" -> Q(
      (s, d) => graft.ops.Stats.ksExact(
        Tables.lineitem(s, d)
          .select(col("l_quantity").cast("long").as("qty"), col("l_returnflag").as("fl")),
        "qty", "fl", "A", "R", atName = "at_qty"),
      Some(
        """WITH li AS (SELECT CAST(l_quantity AS BIGINT) AS qty, l_returnflag AS fl
          |            FROM lineitem WHERE l_returnflag IN ('A', 'R')),
          |c AS (SELECT qty,
          |    sum(CASE WHEN fl = 'A' THEN 1 ELSE 0 END) AS ca,
          |    sum(CASE WHEN fl = 'R' THEN 1 ELSE 0 END) AS cb
          |  FROM li GROUP BY 1),
          |cum AS (SELECT qty,
          |    sum(ca) OVER (ORDER BY qty) AS cuma,
          |    sum(cb) OVER (ORDER BY qty) AS cumb,
          |    sum(ca) OVER () AS na, sum(cb) OVER () AS nb
          |  FROM c),
          |dv AS (SELECT qty, na, nb,
          |    abs(CAST(cuma AS HUGEINT) * nb - CAST(cumb AS HUGEINT) * na) AS dev
          |  FROM cum)
          |SELECT qty AS at_qty, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
          |  CAST(dev * 1000000 // (CAST(na AS HUGEINT) * nb) AS BIGINT) AS ks_x1e6
          |FROM dv ORDER BY dev DESC, qty LIMIT 1""".stripMargin)),

    // The same exact KS over a CONTINUOUS money metric: event values in
    // cents between click and purchase events. The distinct-cents frame
    // is bounded by the VALUE DOMAIN (≤ ~49k cents on this corpus, and
    // by the metric's range in general) — at a domain where even cents
    // stop being enumerable, stats_ks_values_fast's sketch-binned form
    // is the declared path.
    "stats_ks_values" -> Q(
      (s, d) => graft.ops.Stats.ksExact(
        Tables.events(s, d)
          .select(floor(col("value") * 100).cast("long").as("vc"),
            col("event_type").as("fl")),
        "vc", "fl", "click", "purchase", atName = "at_cents"),
      Some(
        """WITH ev AS (SELECT CAST(floor(value * 100) AS BIGINT) AS vc, event_type AS fl
          |            FROM events WHERE event_type IN ('click', 'purchase')),
          |c AS (SELECT vc,
          |    sum(CASE WHEN fl = 'click' THEN 1 ELSE 0 END) AS ca,
          |    sum(CASE WHEN fl = 'purchase' THEN 1 ELSE 0 END) AS cb
          |  FROM ev GROUP BY 1),
          |cum AS (SELECT vc,
          |    sum(ca) OVER (ORDER BY vc) AS cuma,
          |    sum(cb) OVER (ORDER BY vc) AS cumb,
          |    sum(ca) OVER () AS na, sum(cb) OVER () AS nb
          |  FROM c),
          |dv AS (SELECT vc, na, nb,
          |    abs(CAST(cuma AS HUGEINT) * nb - CAST(cumb AS HUGEINT) * na) AS dev
          |  FROM cum)
          |SELECT vc AS at_cents, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
          |  CAST(dev * 1000000 // (CAST(na AS HUGEINT) * nb) AS BIGINT) AS ks_x1e6
          |FROM dv ORDER BY dev DESC, vc LIMIT 1""".stripMargin)),

    // Sketch-binned KS — the unbounded-domain escape hatch for the two
    // exact KS queries above: ECDFs evaluated exactly at 64 equal-width
    // integer grid cut points over the exact [min, max] (round-11,
    // verdict ask #6: the cut points were a percentile_approx GK
    // sketch, engine-internal and rows-only; the exact-integer grid
    // replays in DuckDB, so this now hash-gates). Bin assignment is one
    // integer multiply-divide per row, the cumulative window runs over
    // ≤64 rows. Still a lower bound of the exact statistic with gap
    // bounded by the largest inter-edge mass; accuracy vs the exact
    // twin stays gated in StatsSketchSpec.
    "stats_ks_values_fast" -> Q(
      (s, d) => graft.ops.Stats.ksBinned(
        Tables.events(s, d)
          .select(floor(col("value") * 100).cast("long").as("vc"),
            col("event_type").as("fl")),
        "vc", "fl", "click", "purchase", nBins = 64),
      Some(
        """WITH ev AS (SELECT CAST(floor(value * 100) AS BIGINT) AS v, event_type AS fl
          |            FROM events WHERE event_type IN ('click', 'purchase')),
          |ext AS (SELECT min(v) AS mn, max(v) AS mx FROM ev),
          |b AS (SELECT CASE WHEN mx = mn THEN 0 ELSE ((v - mn) * 64) // (mx - mn + 1) END AS bin,
          |        sum(CASE WHEN fl = 'click' THEN 1 ELSE 0 END) AS ca,
          |        sum(CASE WHEN fl = 'purchase' THEN 1 ELSE 0 END) AS cb
          |      FROM ev, ext GROUP BY 1),
          |cum AS (SELECT bin,
          |    sum(ca) OVER (ORDER BY bin) AS cuma, sum(cb) OVER (ORDER BY bin) AS cumb,
          |    sum(ca) OVER () AS na, sum(cb) OVER () AS nb
          |  FROM b),
          |dv AS (SELECT bin, na, nb,
          |    abs(CAST(cuma AS HUGEINT) * nb - CAST(cumb AS HUGEINT) * na) AS dev
          |  FROM cum)
          |SELECT CAST(bin AS BIGINT) AS at_bin, CAST(na AS BIGINT) AS n_a,
          |  CAST(nb AS BIGINT) AS n_b,
          |  CAST(dev * 1000000 // (CAST(na AS HUGEINT) * nb) AS BIGINT) AS ks_x1e6
          |FROM dv ORDER BY dev DESC, bin LIMIT 1""".stripMargin)),

    // Hybrid retrieval by reciprocal-rank fusion (Cormack et al. SIGIR
    // 2009): the lexical BM25 top-100 and the dense cosine top-100
    // (query vector vec_id=0 over the shared corpus id space) fused by
    // RRF(d) = Σ_lists 1e6 div (60 + rank) — integer-exact, so the
    // fusion is hash-gated end-to-end. Each list carries its own scale
    // story (BM25's term-filtered tf shuffle; brute-force cosine's
    // broadcast-bounded scoring with the LSH/IVF variants as the
    // corpus-scale path); the fusion itself joins two ≤100-row ranked
    // frames — driver-trivial at any corpus size.
    "search_hybrid_rrf" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val lex = graft.ops.TextOps.bm25TopK(
            Tables.documents(s, d), terms = Seq("spark", "join", "vector"), k = 100)
          .withColumn("rank_lex", row_number().over(
            Window.orderBy(desc("bm25"), asc("doc_id"))))
          .select("doc_id", "rank_lex")
        val den = graft.ops.Similarity.bruteForceTopK(
            Tables.embeddings(s, d), queryIds = Seq(0L), k = 100)
          .select(col("vec_id").as("doc_id"), col("rank").as("rank_dense"))
        lex.join(den, Seq("doc_id"), "full_outer")
          .withColumn("rrf_x1e6",
            coalesce(expr("1000000L div (60 + rank_lex)"), lit(0L))
              + coalesce(expr("1000000L div (60 + rank_dense)"), lit(0L)))
          .orderBy(desc("rrf_x1e6"), asc("doc_id")).limit(20)
          // rank 0 = "not in this list": NULL BIGINTs degrade to float64
          // in the driver's pandas reading, so the sentinel keeps both
          // engines integral (the compare-protocol convention)
          .select(col("doc_id"),
            coalesce(col("rank_lex").cast("long"), lit(0L)).as("rank_lex"),
            coalesce(col("rank_dense").cast("long"), lit(0L)).as("rank_dense"),
            col("rrf_x1e6").cast("long").as("rrf_x1e6"))
      },
      Some(TextSql.hybridRrf(Seq("spark", "join", "vector"),
        queryVec = 0L, listK = 100, k = 20))),

    // Benford first-digit conformance of order totals — the
    // sanity/fraud screen over a money column. The leading digit is
    // taken from floor(price) as a string (identical IEEE floor + int
    // formatting on both engines; no cents scaling needed), the
    // expected Benford shares log10(1+1/d) enter as ×1e6 integer
    // constants on BOTH sides, and everything after the 9-row groupBy
    // is arithmetic. Pure codegen scan, scale-perfect.
    "stats_benford" -> Q(
      (s, d) => {
        val benford = "map(1,301029, 2,176091, 3,124938, 4,96910, 5,79181," +
          " 6,66946, 7,57991, 8,51152, 9,45757)"
        val digits = Tables.orders(s, d)
          .select(substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
            .cast("long").as("digit"))
        val tot = digits.agg(count(lit(1)).as("total"))
        digits.groupBy("digit").agg(count(lit(1)).as("n"))
          .crossJoin(broadcast(tot))
          .withColumn("share_x1e6", expr("n * 1000000L div total").cast("long"))
          .withColumn("benford_x1e6", expr(s"element_at($benford, cast(digit as int))").cast("long"))
          .select(col("digit"), col("n"), col("share_x1e6"), col("benford_x1e6"),
            (col("share_x1e6") - col("benford_x1e6")).cast("long").as("dev_x1e6"))
          .orderBy("digit")
      },
      Some(
        """WITH dg AS (SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
          |            FROM orders),
          |t AS (SELECT count(*) AS total FROM dg),
          |c AS (SELECT digit, count(*) AS n FROM dg GROUP BY 1),
          |b AS (SELECT digit, n,
          |    CAST(n * 1000000 // total AS BIGINT) AS share_x1e6,
          |    CAST(CASE digit WHEN 1 THEN 301029 WHEN 2 THEN 176091 WHEN 3 THEN 124938
          |      WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66946
          |      WHEN 7 THEN 57991 WHEN 8 THEN 51152 WHEN 9 THEN 45757 END AS BIGINT) AS benford_x1e6
          |  FROM c CROSS JOIN t)
          |SELECT digit, n, share_x1e6, benford_x1e6,
          |  CAST(share_x1e6 - benford_x1e6 AS BIGINT) AS dev_x1e6
          |FROM b ORDER BY digit""".stripMargin)),

    // Gini coefficient of per-customer revenue, exact, WITHOUT a global
    // sort: ranking uses ops/Stats.bucketedRank — range-bucket on the
    // value, rank inside buckets with a partitioned window, shift by
    // offsets from the tiny occupied-bucket frame (the
    // pipeline_shard_budget two-phase prefix-sum discipline). The
    // oracle's row_number() OVER (ORDER BY rev, cust) is exactly what
    // the two-phase rank reproduces; the statistic is the classic
    // 2·Σrank·x formula in DECIMAL ×1e6.
    "stats_gini_customers" -> Q(
      (s, d) => {
        val rev = Tables.orders(s, d)
          .groupBy(col("o_custkey").as("cust"))
          .agg(sum(expr("cast(floor(o_totalprice) as bigint)")).as("rev"))
        val ranked = graft.ops.Stats.bucketedRank(rev, "rev", "cust",
          bucketWidth = 1L << 22)
        graft.ops.Stats.giniX1e6(ranked, "rev")
      },
      Some(
        """WITH r AS (SELECT o_custkey AS cust,
          |    sum(CAST(floor(o_totalprice) AS BIGINT)) AS rev
          |  FROM orders GROUP BY 1),
          |rk AS (SELECT rev, row_number() OVER (ORDER BY rev, cust) AS rnk FROM r)
          |SELECT count(*) AS n_entities,
          |  CAST(sum(rev) AS BIGINT) AS total_value,
          |  CAST((2 * sum(CAST(rnk AS HUGEINT) * rev)
          |        - (count(*) + 1) * sum(CAST(rev AS HUGEINT))) * 1000000
          |       // (count(*) * sum(CAST(rev AS HUGEINT))) AS BIGINT) AS gini_x1e6
          |FROM rk""".stripMargin)),

    // SCD Type-2 dimension build from the event log: per user, collapse
    // consecutive same-state events (state = event_type), open a
    // validity interval at each change, close it at the next change
    // (lead) — the slowly-changing-dimension twin of events_cdc_latest
    // (which keeps only the last state). Census per state: interval
    // counts, open intervals, exact integer duration stats. Both
    // windows are partitioned by user_id — no global sort at any scale.
    "events_scd2_intervals" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val chg = Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
          .withColumn("prev", lag("event_type", 1).over(w))
          .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        chg
          .withColumn("valid_to", lead("ts", 1).over(w))
          .withColumn("dur_s", expr(
            "(unix_micros(valid_to) - unix_micros(ts)) div 1000000"))
          .groupBy(col("event_type").as("state"))
          .agg(count(lit(1)).as("n_intervals"),
            sum(when(col("valid_to").isNull, 1L).otherwise(0L)).cast("long").as("n_open"),
            expr("sum(dur_s) div nullif(count(dur_s), 0)").cast("long").as("avg_dur_s"),
            max("dur_s").cast("long").as("max_dur_s"))
          .orderBy("state")
      },
      Some(
        """WITH chg AS (
          |  SELECT * FROM (
          |    SELECT user_id, event_id, ts, event_type,
          |      lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
          |    FROM events)
          |  WHERE prev IS NULL OR prev <> event_type),
          |iv AS (SELECT event_type AS state, ts,
          |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
          |  FROM chg),
          |dur AS (SELECT state, valid_to,
          |    CAST(epoch_us(valid_to) - epoch_us(ts) AS BIGINT) // 1000000 AS dur_s
          |  FROM iv)
          |SELECT state, count(*) AS n_intervals,
          |  CAST(sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
          |  CAST(sum(dur_s) // nullif(count(dur_s), 0) AS BIGINT) AS avg_dur_s,
          |  CAST(max(dur_s) AS BIGINT) AS max_dur_s
          |FROM dur GROUP BY state ORDER BY state""".stripMargin)),

    // Weighted single-source shortest paths (Bellman-Ford, at most 5
    // relaxation rounds — exact for ≤5-hop paths; the spec pins the
    // top-20 at the fixpoint on sf0.001, and on sf0.01 it is the
    // fixpoint's although 5 rounds reach 1384 of 1860 nodes) over the
    // support-pruned co-order graph; edge cost 1e6 div support. The
    // operator relaxes only the nodes whose distance fell in the
    // previous round and stops at the fixpoint, which equals the plain
    // all-nodes rounds the oracle unrolls with MATERIALIZED CTEs (the
    // graph_kcore discipline).
    "graph_sssp_weighted" -> Q(
      (s, d) => graft.ops.Basket.ssspWeighted(Tables.lineitem(s, d),
        rounds = 5, minSupport = 2, k = 20),
      Some {
        val base =
          """WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
            |e0 AS MATERIALIZED (SELECT a.pk AS pa, b.pk AS pb, count(*) AS n_both
            |      FROM op a JOIN op b ON b.ok = a.ok AND a.pk < b.pk
            |      GROUP BY 1, 2 HAVING count(*) >= 2),
            |e AS MATERIALIZED (
            |  SELECT pa AS src, pb AS dst, 1000000 // n_both AS w FROM e0
            |  UNION ALL SELECT pb, pa, 1000000 // n_both FROM e0),
            |d0 AS (SELECT src AS node, CAST(0 AS BIGINT) AS dist FROM e
            |       GROUP BY src ORDER BY count(*) DESC, src LIMIT 1)""".stripMargin
        val rounds = (1 to 5).map { i =>
          s"""d$i AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
             |  SELECT node, dist FROM d${i - 1}
             |  UNION ALL
             |  SELECT e.dst AS node, d.dist + e.w AS dist
             |  FROM d${i - 1} d JOIN e ON e.src = d.node)
             |  GROUP BY 1)""".stripMargin
        }.mkString(",\n")
        s"""$base,
           |$rounds
           |SELECT node, CAST(dist AS BIGINT) AS dist FROM d5
           |ORDER BY dist, node LIMIT 20""".stripMargin
      }),

    // Z-order (Morton) clustering readout — the Delta/Iceberg OPTIMIZE
    // ZORDER effectiveness report: interleave the low 10 bits of
    // customer key and order-day (10+10 keeps the interleave inside the
    // OCCUPIED domain at every SF — a 16-bit prefix left the top curve
    // bits constant and every row in one bucket), split the curve into
    // 32 leading-bit buckets ("files"), and report each bucket's
    // per-dimension min/max envelope — the zone-map ranges a reader
    // would prune on. Both dimensions stay narrow per bucket (vs a
    // date-sorted layout where custkey spans its full range in every
    // file). Pure codegen bit arithmetic + a 32-row groupBy;
    // scale-perfect.
    "lakehouse_zorder_stats" -> Q(
      (s, d) => {
        val z = (0 until 10).map(i =>
          s"(shiftleft((ck >> $i) & 1, ${2 * i}) + shiftleft((dy >> $i) & 1, ${2 * i + 1}))")
          .mkString(" + ")
        Tables.orders(s, d)
          .select(pmod(col("o_custkey"), lit(1024)).cast("long").as("ck"),
            pmod(datediff(to_date(col("o_orderdate")), lit("1992-01-01").cast("date")),
              lit(1024)).cast("long").as("dy"))
          .withColumn("z", expr(z))
          .withColumn("zbucket", expr("z >> 15").cast("long"))
          .groupBy("zbucket").agg(count(lit(1)).as("n"),
            min("ck").as("ck_min"), max("ck").as("ck_max"),
            min("dy").as("dy_min"), max("dy").as("dy_max"))
          .orderBy("zbucket")
      },
      Some {
        val z = (0 until 10).map(i =>
          s"((((ck >> $i) & 1) << ${2 * i}) + (((dy >> $i) & 1) << ${2 * i + 1}))")
          .mkString(" + ")
        s"""WITH b AS (SELECT CAST(o_custkey % 1024 AS BIGINT) AS ck,
           |    CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 1024 AS BIGINT) AS dy
           |  FROM orders),
           |z AS (SELECT ck, dy, $z AS z FROM b)
           |SELECT CAST(z >> 15 AS BIGINT) AS zbucket, count(*) AS n,
           |  min(ck) AS ck_min, max(ck) AS ck_max,
           |  min(dy) AS dy_min, max(dy) AS dy_max
           |FROM z GROUP BY 1 ORDER BY zbucket""".stripMargin
      }),

    // Nearest-click as-of join with a ±30-minute tolerance — the
    // bidirectional sibling of join_asof_last_click: each purchase
    // takes the temporally closest click within tolerance (backward
    // wins exact ties). Backward and forward candidates come from two
    // user-partitioned window passes (at same-ts the click sorts first,
    // so the backward pass sees it — dt 0), so there is never a range
    // join or per-row scan; the oracle's LATERAL probe is test-scale
    // only.
    "join_asof_nearest" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val tolUs = 1800L * 1000000L
        val ev = Tables.events(s, d)
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        val ord = when(col("event_type") === "click", 0).otherwise(1)
        val wb = Window.partitionBy("user_id").orderBy(col("ts"), ord)
          .rowsBetween(Window.unboundedPreceding, 0)
        val wf = Window.partitionBy("user_id").orderBy(col("ts"), ord)
          .rowsBetween(0, Window.unboundedFollowing)
        val clickTs = when(col("event_type") === "click", col("ts"))
        ev.withColumn("back", last(clickTs, ignoreNulls = true).over(wb))
          .withColumn("fwd", first(clickTs, ignoreNulls = true).over(wf))
          .filter(col("event_type") === "purchase")
          .withColumn("db", unix_micros(col("ts")) - unix_micros(col("back")))
          .withColumn("df", unix_micros(col("fwd")) - unix_micros(col("ts")))
          .withColumn("click_ts",
            when(col("back").isNotNull && col("db") <= tolUs
                && (col("fwd").isNull || col("df") > tolUs || col("db") <= col("df")),
              col("back"))
            .when(col("fwd").isNotNull && col("df") <= tolUs, col("fwd")))
          .select("user_id", "event_id", "ts", "click_ts")
          .orderBy("event_id")
      },
      Some(
        """WITH clicks AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
          |p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase')
          |SELECT p.user_id, p.event_id, p.ts, n.ts AS click_ts
          |FROM p LEFT JOIN LATERAL (
          |  SELECT c.ts FROM clicks c
          |  WHERE c.user_id = p.user_id
          |    AND abs(epoch_us(c.ts) - epoch_us(p.ts)) <= 1800000000
          |  ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)), c.ts LIMIT 1
          |) n ON TRUE
          |ORDER BY p.event_id""".stripMargin)),

    // Exact join-cardinality forecast — the planner diagnostic that
    // prices a fact-fact shuffle BEFORE running it: per-key counts on
    // each side, matched-key fanout products, and their sum (= the
    // exact inner-join row count), max, and mean. Complements
    // stats_key_skew (which prices the shuffle buckets); two
    // partial-agg'd counts + one keyed join of count frames, no window.
    "stats_join_fanout" -> Q(
      (s, d) => {
        val a = Tables.orders(s, d)
          .groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("ca"))
        val b = Tables.lineitem(s, d)
          .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("cb"))
        a.join(b, "k")
          .select((col("ca") * col("cb")).as("prod"))
          .agg(count(lit(1)).as("n_matched_keys"),
            sum("prod").cast("long").as("join_rows"),
            max("prod").cast("long").as("max_key_product"),
            expr("sum(prod) * 1000000L div count(1)").cast("long").as("mean_product_x1e6"))
      },
      Some(
        """WITH a AS (SELECT o_orderkey AS k, count(*) AS ca FROM orders GROUP BY 1),
          |b AS (SELECT l_orderkey AS k, count(*) AS cb FROM lineitem GROUP BY 1),
          |j AS (SELECT ca * cb AS prod FROM a JOIN b USING (k))
          |SELECT count(*) AS n_matched_keys,
          |  CAST(sum(prod) AS BIGINT) AS join_rows,
          |  CAST(max(prod) AS BIGINT) AS max_key_product,
          |  CAST(sum(prod) * 1000000 // count(*) AS BIGINT) AS mean_product_x1e6
          |FROM j""".stripMargin)),

    // Embedding-space decontamination — the semantic member of the
    // exact/fuzzy/semantic trio (pipeline_decontaminate catches verbatim
    // n-gram overlap, _fuzzy catches paraphrase via MinHash bands, this
    // catches re-encodings that share no surface form): corpus vectors
    // scoring cos ≥ 0.95 against ANY benchmark vector (vec_id < 50) are
    // flagged with their best match. Fixture: vec_id < 20 re-appended
    // under 800000+id scaled ×0.97 (cos 1.0 — same direction; scaling
    // in DOUBLE so both engines replay it bit-for-bit, the
    // dedup_pq_codes discipline); the real cross-slice max on this
    // corpus is 0.49, so the flags are exactly the plants. The
    // benchmark side BROADCASTS (real benchmarks are small); past that
    // ceiling the sign-LSH bucket join (dedup_embedding's chain) is the
    // declared escalation.
    "pipeline_decontaminate_semantic" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        val planted = base.filter(col("vec_id") < 20)
          .select((col("vec_id") + 800000L).as("vec_id"),
            transform(col("e"), x => x * lit(0.97)).as("e"))
        val bench = base.filter(col("vec_id") < 50)
          .select(col("vec_id").as("bench_id"), col("e").as("be"))
        val corpus = base.filter(col("vec_id") >= 50).unionByName(planted)
        val dot = graft.ops.Similarity.dot _
        val scored = corpus.crossJoin(broadcast(bench))
          .withColumn("cos", round(dot(col("e"), col("be"))
            / (sqrt(dot(col("e"), col("e"))) * sqrt(dot(col("be"), col("be")))), 6))
          .filter(col("cos") >= 0.95)
        scored.withColumn("rn", row_number().over(
            Window.partitionBy("vec_id").orderBy(desc("cos"), asc("bench_id"))))
          .filter(col("rn") === 1)
          .select("vec_id", "bench_id", "cos")
          .orderBy("vec_id")
      },
      Some(
        """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
          |planted AS (SELECT vec_id + 800000 AS vec_id,
          |    list_transform(e, x -> x * 0.97) AS e
          |  FROM base WHERE vec_id < 20),
          |bench AS (SELECT vec_id AS bench_id, e AS be FROM base WHERE vec_id < 50),
          |corpus AS (SELECT vec_id, e FROM base WHERE vec_id >= 50
          |  UNION ALL SELECT vec_id, e FROM planted),
          |scored AS (
          |  SELECT c.vec_id, b.bench_id,
          |    round(list_dot_product(e, be)
          |      / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(be, be))), 6) AS cos
          |  FROM corpus c CROSS JOIN bench b),
          |fl AS (SELECT vec_id, bench_id, cos,
          |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, bench_id) AS rn
          |  FROM scored WHERE cos >= 0.95)
          |SELECT vec_id, bench_id, cos FROM fl WHERE rn = 1 ORDER BY vec_id""".stripMargin)),

    // Corpus drift detection: terms rising between the early and late
    // document halves (split at the midpoint of the id range — the
    // stand-in for ingestion time), add-one-smoothed ratio ×1e6 in
    // exact integer arithmetic, minimum late support 20. The trending
    // readout a continuously-ingesting pipeline alerts on. One token
    // scan with conditional sums — no second pass, no window.
    "text_trending_terms" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val mx = docs.agg(max("doc_id").as("mx"))
        docs.crossJoin(broadcast(mx))
          .select(col("doc_id"), col("mx"),
            explode(graft.ops.TextOps.tokens(col("text"))).as("w"))
          .filter(col("w") =!= "")
          .groupBy("w").agg(
            sum(when(col("doc_id") * 2 <= col("mx"), 1L).otherwise(0L)).as("c_early"),
            sum(when(col("doc_id") * 2 > col("mx"), 1L).otherwise(0L)).as("c_late"))
          .filter(col("c_late") >= 20)
          .withColumn("rise_x1e6", expr("(c_late + 1) * 1000000L div (c_early + 1)"))
          .select(col("w"), col("c_early").cast("long").as("c_early"),
            col("c_late").cast("long").as("c_late"),
            col("rise_x1e6").cast("long").as("rise_x1e6"))
          .orderBy(desc("rise_x1e6"), asc("w")).limit(20)
      },
      Some(
        """WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
          |tok AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS w
          |        FROM documents),
          |c AS (SELECT w,
          |    sum(CASE WHEN doc_id * 2 <= mx THEN 1 ELSE 0 END) AS c_early,
          |    sum(CASE WHEN doc_id * 2 > mx THEN 1 ELSE 0 END) AS c_late
          |  FROM tok CROSS JOIN mx WHERE w <> '' GROUP BY w)
          |SELECT w, CAST(c_early AS BIGINT) AS c_early, CAST(c_late AS BIGINT) AS c_late,
          |  CAST((c_late + 1) * 1000000 // (c_early + 1) AS BIGINT) AS rise_x1e6
          |FROM c WHERE c_late >= 20
          |ORDER BY rise_x1e6 DESC, w LIMIT 20""".stripMargin)),

    // Per-type volume trend: least-squares slope of hourly event counts
    // over the hour index (hours since the global min hour). All four
    // sums are exact integers (DECIMAL, < 2^53 at any plausible scale),
    // so the final slope division is the only float op — identical
    // IEEE double division + round on both engines (the bm25
    // discipline). Hourly pre-agg collapses the corpus; the per-type
    // regression runs on (type, hour) rows.
    "events_trend_slope" -> Q(
      (s, d) => {
        val hourly = Tables.events(s, d)
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
          .agg(count(lit(1)).as("n"))
        val minh = hourly.agg(min("hr").as("mnh"))
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        hourly.crossJoin(broadcast(minh))
          .withColumn("t", expr("(unix_micros(hr) - unix_micros(mnh)) div 3600000000"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("k"),
            sum(dec(col("t"))).as("st"),
            sum(dec(col("n"))).as("sn"),
            sum(dec(col("t")) * dec(col("n"))).as("stn"),
            sum(dec(col("t")) * dec(col("t"))).as("stt"))
          .select(col("event_type"), col("k").cast("long").as("n_hours"),
            round((dec(col("k")) * col("stn") - col("st") * col("sn")).cast("double")
              / (dec(col("k")) * col("stt") - col("st") * col("st")).cast("double"),
              6).as("slope_per_hour"))
          .orderBy("event_type")
      },
      Some(
        """WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n
          |               FROM events GROUP BY 1, 2),
          |mn AS (SELECT min(hr) AS mnh FROM hourly),
          |t AS (SELECT event_type,
          |    (epoch_us(hr) - epoch_us(mnh)) // 3600000000 AS t, n
          |  FROM hourly CROSS JOIN mn),
          |s AS (SELECT event_type, count(*) AS k,
          |    sum(CAST(t AS HUGEINT)) AS st, sum(CAST(n AS HUGEINT)) AS sn,
          |    sum(CAST(t AS HUGEINT) * n) AS stn, sum(CAST(t AS HUGEINT) * t) AS stt
          |  FROM t GROUP BY 1)
          |SELECT event_type, CAST(k AS BIGINT) AS n_hours,
          |  round(CAST(k * stn - st * sn AS DOUBLE)
          |        / CAST(k * stt - st * st AS DOUBLE), 6) AS slope_per_hour
          |FROM s ORDER BY event_type""".stripMargin)),

    // Neyman-optimal stratified sampling allocation: a 10k-doc budget
    // split across sources ∝ N_i·σ_i of the char-length metric. The
    // identity N·σ = sqrt(N·Σx² − (Σx)²) keeps everything under the
    // sqrt an EXACT integer (no mean, no float variance), the sqrt and
    // the ×1e3 floor quantization are the pipeline_temperature_mix
    // discipline, and the final allocation is integer floor division —
    // the whole plan is one groupBy over the corpus plus arithmetic on
    // the |sources|-row frame.
    "sample_neyman_alloc" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        Tables.documents(s, d)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(dec(col("n_chars"))).as("sx"),
            sum(dec(col("n_chars")) * dec(col("n_chars"))).as("sxx"))
          .withColumn("w", floor(sqrt(
            (dec(col("n_docs")) * col("sxx") - col("sx") * col("sx")).cast("double"))
            * 1e3).cast("long"))
          .withColumn("tw", sum("w").over(Window.partitionBy()))
          .select(col("source"), col("n_docs").cast("long").as("n_docs"),
            col("w").as("nsigma_x1e3"),
            expr("CAST((CAST(w AS DECIMAL(38,0)) * 10000) div CAST(tw AS DECIMAL(38,0)) AS BIGINT)")
              .as("alloc"))
          .orderBy("source")
      },
      Some(
        """WITH s AS (SELECT source, count(*) AS n_docs,
          |    sum(CAST(n_chars AS HUGEINT)) AS sx,
          |    sum(CAST(n_chars AS HUGEINT) * n_chars) AS sxx
          |  FROM documents GROUP BY 1),
          |w AS (SELECT source, n_docs,
          |    CAST(floor(sqrt(CAST(n_docs * sxx - sx * sx AS DOUBLE)) * 1e3) AS BIGINT) AS w
          |  FROM s),
          |t AS (SELECT sum(w) AS tw FROM w)
          |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, w AS nsigma_x1e3,
          |  CAST(CAST(w AS HUGEINT) * 10000 // tw AS BIGINT) AS alloc
          |FROM w CROSS JOIN t ORDER BY source""".stripMargin)),

    // Link prediction on the co-order graph: non-adjacent part pairs
    // ranked by common-neighbor Jaccard ("bought with the same things,
    // never together" — the recommendation candidate generator).
    // Candidates only from wedges (keyed neighbor-list self-join, Σdeg²
    // bounded by the support prune), existing edges anti-joined away,
    // exact integer Jaccard.
    "graph_link_prediction" -> Q(
      (s, d) => graft.ops.Basket.linkPrediction(Tables.lineitem(s, d),
        minSupport = 2, k = 20),
      Some(
        """WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
          |e AS MATERIALIZED (SELECT a.pk AS pa, b.pk AS pb
          |      FROM op a JOIN op b ON b.ok = a.ok AND a.pk < b.pk
          |      GROUP BY 1, 2 HAVING count(*) >= 2),
          |n AS (SELECT pa AS b, pb AS x FROM e UNION ALL SELECT pb, pa FROM e),
          |deg AS (SELECT x, count(*) AS deg FROM n GROUP BY 1),
          |cm AS (SELECT n1.x AS a, n2.x AS c, count(*) AS common
          |       FROM n n1 JOIN n n2 ON n2.b = n1.b AND n1.x < n2.x
          |       GROUP BY 1, 2),
          |ne AS (SELECT cm.* FROM cm
          |       WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.pa = cm.a AND e.pb = cm.c))
          |SELECT ne.a, ne.c, CAST(common AS BIGINT) AS common,
          |  CAST(common * 1000000 // (da.deg + dc.deg - common) AS BIGINT) AS jaccard_x1e6
          |FROM ne JOIN deg da ON da.x = ne.a JOIN deg dc ON dc.x = ne.c
          |ORDER BY jaccard_x1e6 DESC, common DESC, a, c LIMIT 20""".stripMargin)),

    // CUSUM changepoint detection over the hourly volume series per
    // event type — the classic mean-shift monitor a pipeline runs over
    // ingest telemetry. S_i = Σ_{j≤i}(x_j − μ) is kept EXACT by scaling
    // ×n: s_xn_i = n·prefix_i − i·total (BIGINT; hours ≤ 1e4 × corpus
    // counts ≤ 1e12 stays far under 2^63). The hourly pre-agg collapses
    // the corpus; the windows run per-type over span-bounded partitions
    // (≤ #hours rows). Reported changepoint = argmax |S|, earliest hour
    // on ties.
    "events_changepoint_cusum" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val hourly = Tables.events(s, d)
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
          .agg(count(lit(1)).as("x"))
        val w = Window.partitionBy("event_type").orderBy("hr")
        val pre = hourly
          .withColumn("i", row_number().over(w).cast("long"))
          .withColumn("pfx", sum("x").over(w))
        val tot = hourly.groupBy("event_type")
          .agg(sum("x").as("total"), count(lit(1)).as("n_hours"))
        val sn = pre.join(broadcast(tot), "event_type")
          .withColumn("abs_s",
            abs(col("n_hours") * col("pfx") - col("i") * col("total")))
        val pick = Window.partitionBy("event_type")
          .orderBy(col("abs_s").desc, col("hr"))
        sn.withColumn("rk", row_number().over(pick)).filter(col("rk") === 1)
          .select(col("event_type"),
            col("n_hours").cast("long").as("n_hours"),
            col("total").cast("long").as("total"),
            date_format(col("hr"), "yyyy-MM-dd HH:00:00").as("cp_hour"),
            col("abs_s").cast("long").as("s_abs_max_xn"))
          .orderBy("event_type")
      },
      Some(
        """WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS x
          |               FROM events GROUP BY 1, 2),
          |tot AS (SELECT event_type, sum(x) AS total, count(*) AS n_hours
          |        FROM hourly GROUP BY 1),
          |pre AS (SELECT event_type, hr,
          |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY hr) AS BIGINT) AS i,
          |    sum(x) OVER (PARTITION BY event_type ORDER BY hr) AS pfx
          |  FROM hourly),
          |s AS (SELECT p.event_type, p.hr, t.n_hours, t.total,
          |    abs(t.n_hours * p.pfx - p.i * t.total) AS abs_s
          |  FROM pre p JOIN tot t USING (event_type))
          |SELECT event_type, CAST(n_hours AS BIGINT) AS n_hours,
          |  CAST(total AS BIGINT) AS total,
          |  strftime(hr, '%Y-%m-%d %H:00:00') AS cp_hour,
          |  CAST(abs_s AS BIGINT) AS s_abs_max_xn
          |FROM s
          |QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY abs_s DESC, hr) = 1
          |ORDER BY event_type""".stripMargin)),

    // Theil–Sen robust trend slope per event type — the median of all
    // pairwise hourly slopes, the outlier-proof twin of
    // events_trend_slope's OLS. The hourly pre-agg collapses the corpus
    // first, so the pair stage is O(span_hours²) per type —
    // CORPUS-INDEPENDENT (the 30-day span is ~720 hours at every SF;
    // for year-long spans, pre-bucket hours to days first). Each slope
    // is ONE IEEE double division (exactly rounded, engine-invariant),
    // the median is the deterministic lower median by (slope, t1, t2)
    // order. The median is computed from each group's COLLECTED
    // t-ordered series in one fused call (graft_theilsen_median: pairs
    // generated in (i, j) lex order + a STABLE sort by slope ≡ the
    // (slope, t1, t2) row_number order, same IEEE divisions), not by
    // materializing the ~1.3M-row pair join + full window sort the
    // DuckDB oracle keeps. n_pairs = C(cnt, 2) ≡ the window count over
    // the pair rows; 1-bucket groups emit nothing either way.
    "events_theilsen_slope" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val hourly = Tables.events(s, d)
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
          .agg(count(lit(1)).as("n"))
        // global min(hr) via an unpartitioned window over the HOURLY
        // frame (span-bounded, ~720 rows/type) — the former
        // crossJoin(broadcast(agg)) scanned and re-aggregated the whole
        // events corpus a SECOND time just to produce this one scalar
        // (two Scan parquet nodes in the before-plan; the all-to-one
        // window moves only the tiny post-agg frame). Same mnh, same t.
        val t = hourly
          .withColumn("mnh", min("hr").over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
          .withColumn("t", expr("(unix_micros(hr) - unix_micros(mnh)) div 3600000000"))
          .select("event_type", "t", "n")
        t.groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"),
            sort_array(collect_list(struct(col("t"), col("n")))).as("ser"))
          .filter(col("cnt") >= 2)
          .select(col("event_type"),
            expr("cnt * (cnt - 1) div 2").cast("long").as("n_pairs"),
            // field extraction, not a transform lambda: a lambda is a
            // CodegenFallback and would keep this projection out of
            // whole-stage codegen
            round(graft.functions.TheilSenMedianExpr(col("ser.t"), col("ser.n")), 6)
              .as("theilsen_slope"))
          .orderBy("event_type")
      },
      Some(
        """WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n
          |               FROM events GROUP BY 1, 2),
          |mn AS (SELECT min(hr) AS mnh FROM hourly),
          |t AS (SELECT event_type,
          |    (epoch_us(hr) - epoch_us(mnh)) // 3600000000 AS t, n
          |  FROM hourly CROSS JOIN mn),
          |p AS (SELECT a.event_type, a.t AS t1, b.t AS t2,
          |    CAST(b.n - a.n AS DOUBLE) / CAST(b.t - a.t AS DOUBLE) AS slope
          |  FROM t a JOIN t b ON b.event_type = a.event_type AND a.t < b.t),
          |r AS (SELECT event_type, slope,
          |    row_number() OVER (PARTITION BY event_type ORDER BY slope, t1, t2) AS rn,
          |    count(*) OVER (PARTITION BY event_type) AS cnt
          |  FROM p)
          |SELECT event_type, CAST(cnt AS BIGINT) AS n_pairs,
          |  round(slope, 6) AS theilsen_slope
          |FROM r WHERE rn = (cnt + 1) // 2
          |ORDER BY event_type""".stripMargin)),

    // Skyline (Pareto frontier) of parts under (minimize price,
    // maximize size). The 2-D dominance test collapses to per-size
    // minima: a part survives iff it has the min price at its size AND
    // every strictly larger size is strictly more expensive — so the
    // whole operator is one groupBy to the ≤50-row size frame, a
    // suffix-min over that DOMAIN-BOUNDED frame, and a broadcast join
    // back (O(n) scan vs the oracle's O(n²) NOT EXISTS, which is
    // test-scale only). Prices in exact cents.
    "skyline_parts" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val parts = Tables.part(s, d).select(col("p_partkey"),
          col("p_size").cast("long").as("size"),
          expr("CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)").as("price_c"))
        val bySize = parts.groupBy("size").agg(min("price_c").as("mp"))
        val w = Window.orderBy(col("size").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val sizes = bySize.withColumn("ms", min("mp").over(w))
        parts.join(broadcast(sizes), "size")
          .filter(col("price_c") === col("mp") &&
            (col("ms").isNull || col("ms") > col("price_c")))
          .select(col("p_partkey"), col("size"), col("price_c"))
          .orderBy("size", "p_partkey")
      },
      Some(
        """SELECT p_partkey, CAST(p_size AS BIGINT) AS size,
          |  CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_c
          |FROM part p
          |WHERE NOT EXISTS (
          |  SELECT 1 FROM part q
          |  WHERE CAST(floor(q.p_retailprice * 100 + 0.5) AS BIGINT)
          |          <= CAST(floor(p.p_retailprice * 100 + 0.5) AS BIGINT)
          |    AND q.p_size >= p.p_size
          |    AND (CAST(floor(q.p_retailprice * 100 + 0.5) AS BIGINT)
          |           < CAST(floor(p.p_retailprice * 100 + 0.5) AS BIGINT)
          |         OR q.p_size > p.p_size))
          |ORDER BY size, p_partkey""".stripMargin)),

    // k-anonymity / l-diversity audit over the customer table:
    // equivalence classes on the quasi-identifiers (nation, segment),
    // sensitive attribute = account-balance band. A class is at risk if
    // it has fewer than k=5 members (re-identifiable) or fewer than 2
    // distinct sensitive values (attribute disclosure). One groupBy to
    // the |nations|×|segments| frame — scale-perfect.
    "privacy_k_anonymity" -> Q(
      (s, d) => {
        val band = when(col("c_acctbal") < 0, "neg")
          .when(col("c_acctbal") < 4500, "mid").otherwise("high")
        Tables.customer(s, d)
          .groupBy(col("c_nationkey").cast("long").as("nation"),
            col("c_mktsegment").as("segment"))
          .agg(count(lit(1)).as("n"),
            countDistinct(band).as("l_div"))
          .withColumn("at_risk",
            when(col("n") < 5 || col("l_div") < 2, 1L).otherwise(0L))
          .select(col("nation"), col("segment"), col("n"),
            col("l_div").cast("long").as("l_div"), col("at_risk"))
          .orderBy("nation", "segment")
      },
      Some(
        """SELECT CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment AS segment,
          |  count(*) AS n,
          |  CAST(count(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg'
          |    WHEN c_acctbal < 4500 THEN 'mid' ELSE 'high' END) AS BIGINT) AS l_div,
          |  CASE WHEN count(*) < 5 OR count(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg'
          |    WHEN c_acctbal < 4500 THEN 'mid' ELSE 'high' END) < 2
          |    THEN 1 ELSE 0 END AS at_risk
          |FROM customer GROUP BY 1, 2
          |ORDER BY nation, segment""".stripMargin)),

    // Interval-overlap join: SCD2 state-validity intervals (per-user
    // consecutive same-type collapse, open intervals capped at corpus
    // max ts) ⋈ the top-24 global peak hours by volume (deterministic
    // rank, ties by hour — non-vacuous at every SF, unlike a
    // mean-multiple threshold that empties out as the hourly series
    // flattens). The join is the scale-correct BIN-KEYED form:
    // intervals explode to covered DAYS (bounded by span), peak hours
    // key by their day — an equi-join, no range/theta join anywhere;
    // per-pair overlap is exact integer microseconds. The oracle's
    // range join is test-scale only.
    "join_interval_overlap" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, d)
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val mx = ev.agg(max("ts").as("mxts"))
        val iv = ev.select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
          .withColumn("prev", lag("event_type", 1).over(w))
          .filter(col("prev").isNull || col("prev") =!= col("event_type"))
          .withColumn("te0", lead("ts", 1).over(w))
          .crossJoin(broadcast(mx))
          .select(col("event_type").as("state"), col("ts").as("tb"),
            coalesce(col("te0"), col("mxts")).as("te"))
        val hourly = ev.groupBy(date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("n"))
        val pk = Window.orderBy(col("n").desc, col("h"))
        val peak = hourly.withColumn("rk", row_number().over(pk))
          .filter(col("rk") <= 24)
          .select(col("h"), to_date(col("h")).as("day"))
        val expanded = iv.withColumn("day",
          explode(expr("sequence(to_date(tb), to_date(te), interval 1 day)")))
        expanded.join(peak, "day")
          .withColumn("ov_us",
            greatest(lit(0L),
              least(unix_micros(col("te")), unix_micros(col("h") + expr("interval 1 hour")))
                - greatest(unix_micros(col("tb")), unix_micros(col("h")))))
          .filter(col("ov_us") > 0)
          .groupBy("state")
          .agg(count(lit(1)).as("n_pairs"), sum("ov_us").cast("long").as("overlap_us"))
          .orderBy("state")
      },
      Some(
        """WITH mx AS (SELECT max(ts) AS mxts FROM events),
          |chg AS (
          |  SELECT * FROM (
          |    SELECT user_id, event_id, ts, event_type,
          |      lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
          |    FROM events)
          |  WHERE prev IS NULL OR prev <> event_type),
          |iv AS (SELECT event_type AS state, ts AS tb,
          |    coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), mxts) AS te
          |  FROM chg CROSS JOIN mx),
          |hourly AS (SELECT date_trunc('hour', ts) AS h, count(*) AS n
          |           FROM events GROUP BY 1),
          |peak AS (SELECT h FROM hourly
          |         QUALIFY row_number() OVER (ORDER BY n DESC, h) <= 24),
          |ov AS (SELECT state,
          |    greatest(0, epoch_us(least(te, h + INTERVAL 1 HOUR))
          |               - epoch_us(greatest(tb, h))) AS ov_us
          |  FROM iv JOIN peak ON peak.h < iv.te AND iv.tb < peak.h + INTERVAL 1 HOUR)
          |SELECT state, count(*) AS n_pairs, CAST(sum(ov_us) AS BIGINT) AS overlap_us
          |FROM ov WHERE ov_us > 0 GROUP BY 1 ORDER BY state""".stripMargin)),

    // Order-invariant table fingerprint — the Merkle-style integrity
    // check for verifying a 100 TB copy without moving or sorting data:
    // per-row 60-bit portable hash (md5 of the canonical '|'-joined
    // row string, money in exact cents), summed per 32-way hash bucket
    // mod the Mersenne prime 2^61−1 (DECIMAL(38,0) partial sums —
    // commutative/associative, so the whole check is one map-side
    // combinable agg; ROLLUP adds the whole-table row). Two tables
    // differing in any row disagree in exactly the buckets that cover
    // the difference — drill down by re-bucketing only those.
    "lakehouse_table_fingerprint" -> Q(
      (s, d) => {
        val rowStr = concat_ws("|",
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"),
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"),
          col("o_orderpriority"))
        Tables.orders(s, d)
          .withColumn("rs", rowStr)
          .withColumn("h", expr(
            "CAST(conv(substring(md5(rs), 1, 15), 16, 10) AS BIGINT)"))
          .withColumn("bucket", pmod(col("h"), lit(32)).cast("long"))
          .rollup("bucket")
          .agg(count(lit(1)).as("n_rows"),
            expr("CAST(sum(CAST(h AS DECIMAL(38,0))) % 2305843009213693951 AS BIGINT)")
              .as("fingerprint"))
          // whole-table row keyed -1, not NULL: a NULL group key turns
          // the column float64 under the driver's pandas reading
          .select(coalesce(col("bucket"), lit(-1L)).as("bucket"),
            col("n_rows"), col("fingerprint"))
          .orderBy("bucket")
      },
      Some {
        val h = GraphSql.md5Hash60(
          """o_orderkey || '|' || o_custkey || '|' || o_orderstatus || '|' ||
            |CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) || '|' ||
            |strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '|' || o_orderpriority""".stripMargin)
        s"""WITH r AS (SELECT $h AS h FROM orders),
           |b AS (SELECT h % 32 AS bucket, h FROM r)
           |SELECT CAST(coalesce(bucket, -1) AS BIGINT) AS bucket, count(*) AS n_rows,
           |  CAST(sum(CAST(h AS HUGEINT)) % 2305843009213693951 AS BIGINT) AS fingerprint
           |FROM b GROUP BY ROLLUP(bucket)
           |ORDER BY bucket""".stripMargin
      }),

    // Local clustering-coefficient histogram on the support-pruned
    // co-order graph (see Basket.clusteringCoeff): per-node triangle
    // participation from undirected wedges, cc = 2·tri/(deg·(deg−1))
    // ×1e6 exact, 11 fixed buckets. The node-level frame never leaves
    // the cluster — the histogram is the O(1) readout.
    "graph_clustering_coeff" -> Q(
      (s, d) => graft.ops.Basket.clusteringCoeff(Tables.lineitem(s, d), minSupport = 2),
      Some(
        """WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
          |e AS MATERIALIZED (SELECT a.pk AS pa, b.pk AS pb
          |      FROM op a JOIN op b ON b.ok = a.ok AND a.pk < b.pk
          |      GROUP BY 1, 2 HAVING count(*) >= 2),
          |n AS (SELECT pa AS b, pb AS x FROM e UNION ALL SELECT pb, pa FROM e),
          |deg AS (SELECT b AS node, count(*) AS deg FROM n GROUP BY 1),
          |wed AS (SELECT n1.x AS a, n1.b AS b, n2.x AS c
          |        FROM n n1 JOIN n n2 ON n2.b = n1.b AND n1.x < n2.x),
          |tri AS (SELECT b AS node, count(*) AS tri FROM wed
          |        WHERE EXISTS (SELECT 1 FROM e WHERE e.pa = wed.a AND e.pb = wed.c)
          |        GROUP BY 1),
          |cc AS (SELECT d.node, coalesce(t.tri, 0) AS tri, d.deg,
          |    CAST(coalesce(t.tri, 0) AS HUGEINT) * 2000000
          |      // (CAST(d.deg AS HUGEINT) * (d.deg - 1)) AS cc_x1e6
          |  FROM deg d LEFT JOIN tri t ON t.node = d.node
          |  WHERE d.deg >= 2)
          |SELECT CAST(cc_x1e6 // 100000 AS BIGINT) AS cc_bucket,
          |  count(*) AS n_nodes,
          |  CAST(sum(cc_x1e6) AS BIGINT) AS sum_cc_x1e6
          |FROM cc GROUP BY 1 ORDER BY cc_bucket""".stripMargin)),

    // Population-stability-index drift of the doc-length distribution,
    // per source vs the whole corpus — the standard feature-drift
    // monitor. Fixed 20 buckets (n_chars div 256, capped), add-one
    // smoothing over the source × occupied-bucket GRID (two tiny
    // broadcast frames crossed, so zero-count cells participate). Each
    // PSI term is floored ×1e9 BEFORE the sum (per-term doubles are
    // engine-invariant IEEE; the integer sum is order-free), and the
    // exact-rational total-variation distance ×1e6 rides along as the
    // ln-free twin. One corpus groupBy + arithmetic on |sources|×20.
    "stats_psi_sources" -> Q(
      (s, d) => {
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        val docs = Tables.documents(s, d)
          .withColumn("b", least(expr("n_chars div 256"), lit(19L)))
        val cell = docs.groupBy("source", "b").agg(count(lit(1)).as("c"))
        val bySrc = docs.groupBy("source").agg(count(lit(1)).as("ns"))
        val byB = docs.groupBy("b").agg(count(lit(1)).as("qc"))
        val n = docs.agg(count(lit(1)).as("nn"))
        val grid = bySrc.crossJoin(broadcast(byB)).crossJoin(broadcast(n))
          .join(cell, Seq("source", "b"), "left")
          .withColumn("c", coalesce(col("c"), lit(0L)))
          .withColumn("p", (col("c") + 1).cast("double") / (col("ns") + 20).cast("double"))
          .withColumn("q", (col("qc") + 1).cast("double") / (col("nn") + 20).cast("double"))
          .withColumn("term_x1e9",
            floor((col("p") - col("q")) * log(col("p") / col("q")) * lit(1e9)).cast("long"))
          .withColumn("tvd_num",
            abs(dec((col("c") + 1)) * dec(col("nn") + 20) - dec(col("qc") + 1) * dec(col("ns") + 20)))
        grid.groupBy("source")
          .agg(max("ns").cast("long").as("n_docs"),
            sum("term_x1e9").cast("long").as("psi_x1e9"),
            expr("CAST((sum(tvd_num) * 1000000) div (CAST(max(ns) + 20 AS DECIMAL(38,0)) * (max(nn) + 20) * 2) AS BIGINT)")
              .as("tvd_x1e6"))
          .orderBy("source")
      },
      Some(
        """WITH docs AS (SELECT source, least(n_chars // 256, 19) AS b FROM documents),
          |cell AS (SELECT source, b, count(*) AS c FROM docs GROUP BY 1, 2),
          |bysrc AS (SELECT source, count(*) AS ns FROM docs GROUP BY 1),
          |byb AS (SELECT b, count(*) AS qc FROM docs GROUP BY 1),
          |n AS (SELECT count(*) AS nn FROM docs),
          |grid AS (SELECT s.source, s.ns, bb.b, bb.qc, n.nn, coalesce(c.c, 0) AS c,
          |    CAST(coalesce(c.c, 0) + 1 AS DOUBLE) / CAST(s.ns + 20 AS DOUBLE) AS p,
          |    CAST(bb.qc + 1 AS DOUBLE) / CAST(n.nn + 20 AS DOUBLE) AS q
          |  FROM bysrc s CROSS JOIN byb bb CROSS JOIN n
          |  LEFT JOIN cell c ON c.source = s.source AND c.b = bb.b),
          |t AS (SELECT source, ns, nn,
          |    CAST(floor((p - q) * ln(p / q) * 1e9) AS BIGINT) AS term_x1e9,
          |    abs(CAST(c + 1 AS HUGEINT) * (nn + 20) - CAST(qc + 1 AS HUGEINT) * (ns + 20)) AS tvd_num
          |  FROM grid)
          |SELECT source, CAST(max(ns) AS BIGINT) AS n_docs,
          |  CAST(sum(term_x1e9) AS BIGINT) AS psi_x1e9,
          |  CAST((sum(tvd_num) * 1000000)
          |       // (CAST(max(ns) + 20 AS HUGEINT) * (max(nn) + 20) * 2) AS BIGINT) AS tvd_x1e6
          |FROM t GROUP BY 1 ORDER BY source""".stripMargin)),

    // Autocorrelation of the hourly volume series per event type, lags
    // 1..6 — the seasonality screen before trusting any hourly trend.
    // EXACT integers throughout: deviations enter ×n (dev = n·x − Σx,
    // DECIMAL products ≤ 1e26 « 10³⁸), so acf = Σdev_t·dev_{t+k} /
    // Σdev² needs no float mean; the signed ×1e6 quantization factors
    // the sign out so truncating div (Spark) and floor div (DuckDB)
    // agree. Lag pairing is a keyed self-join on (type, t+k) over the
    // hourly pre-agg — pair volume O(span·6) per type, gaps pair
    // nothing. The pre-agg exchange is REUSED across its four consumers
    // (AQE: 7 ReusedExchange, 3 residual column-pruned scans — measured
    // FASTER than a localCheckpoint at sf0.1/10×/30×, whose eager
    // materialization costs ~1 s flat); if the residual scans ever
    // dominate at true 100 TB, localCheckpoint()ing the span-bounded
    // hourly frame is the one-line graph_link_prediction escape.
    "events_autocorrelation" -> Q(
      (s, d) => {
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        val hourly = Tables.events(s, d)
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
          .agg(count(lit(1)).as("x"))
        val minh = hourly.agg(min("hr").as("mnh"))
        val t = hourly.crossJoin(broadcast(minh))
          .withColumn("t", expr("(unix_micros(hr) - unix_micros(mnh)) div 3600000000"))
          .select("event_type", "t", "x")
        val st = t.groupBy("event_type").agg(count(lit(1)).as("n"), sum("x").as("sx"))
        val base = t.join(broadcast(st), "event_type")
          .withColumn("dev", dec(col("n")) * dec(col("x")) - dec(col("sx")))
          .select("event_type", "t", "dev")
        val den = base.groupBy("event_type")
          .agg(sum(col("dev") * col("dev")).as("den"))
        val pairs = base
          .withColumn("k", explode(expr("sequence(1L, 6L)")))
          .select(col("event_type"), col("k"), (col("t") + col("k")).as("t2"),
            col("dev").as("dev1"))
          .join(base.select(col("event_type"), col("t").as("t2"), col("dev").as("dev2")),
            Seq("event_type", "t2"))
        pairs.groupBy("event_type", "k")
          .agg(count(lit(1)).as("n_pairs"), sum(col("dev1") * col("dev2")).as("num"))
          .join(broadcast(den), "event_type")
          .select(col("event_type"), col("k").cast("long").as("lag"),
            col("n_pairs"),
            (when(col("num") < 0, lit(-1L)).otherwise(lit(1L)) *
              graft.functions.GraftFunctions.longDiv(
                abs(col("num")) * lit(1000000L).cast("decimal(38,0)"), col("den"))
                .cast("long")).as("acf_x1e6"))
          .orderBy("event_type", "lag")
      },
      Some(
        """WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS x
          |               FROM events GROUP BY 1, 2),
          |mn AS (SELECT min(hr) AS mnh FROM hourly),
          |t AS (SELECT event_type,
          |    (epoch_us(hr) - epoch_us(mnh)) // 3600000000 AS t, x
          |  FROM hourly CROSS JOIN mn),
          |st AS (SELECT event_type, count(*) AS n, sum(x) AS sx FROM t GROUP BY 1),
          |base AS (SELECT t.event_type, t.t,
          |    CAST(st.n AS HUGEINT) * t.x - st.sx AS dev
          |  FROM t JOIN st USING (event_type)),
          |den AS (SELECT event_type, sum(dev * dev) AS den FROM base GROUP BY 1),
          |p AS (SELECT b1.event_type, k.k, count(*) AS n_pairs,
          |    sum(b1.dev * b2.dev) AS num
          |  FROM base b1
          |  CROSS JOIN (SELECT unnest(generate_series(1, 6)) AS k) k
          |  JOIN base b2 ON b2.event_type = b1.event_type AND b2.t = b1.t + k.k
          |  GROUP BY 1, 2)
          |SELECT p.event_type, CAST(p.k AS BIGINT) AS lag, p.n_pairs,
          |  CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END) *
          |       (abs(num) * 1000000 // den) AS BIGINT) AS acf_x1e6
          |FROM p JOIN den ON den.event_type = p.event_type
          |ORDER BY p.event_type, lag""".stripMargin)),

    // RAKE keyword extraction (Rose et al. 2010) over the corpus:
    // candidate phrases are maximal runs of non-stopword tokens
    // (boundaries = the shared en stopword profile + punctuation-only
    // tokens), capped at 4 tokens; word score = degree/frequency over
    // the kept phrases (deg = Σ phrase length per occurrence), phrase
    // score = Σ word scores ×1e6 in exact integer arithmetic. Shape:
    // one token explode (the text-family norm), per-doc windows for run
    // ids, then keyed groupBys/joins only — word scores join back on
    // the token. Top-20 phrases, deterministic tie-break.
    "text_rake_keywords" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        val stop = graft.ops.TextOps.stopwords.toMap.apply("en")
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), posexplode(split(lower(col("text")), "\\s+"))
            .as(Seq("pos", "raw")))
          .withColumn("w", regexp_replace(col("raw"), "[^a-z0-9]", ""))
          .withColumn("bnd", col("w").isin(stop: _*) || col("w") === "")
        val runs = toks
          .withColumn("run", sum(col("bnd").cast("long"))
            .over(Window.partitionBy("doc_id").orderBy("pos")))
          .filter(!col("bnd"))
        val phrases = runs.groupBy("doc_id", "run")
          .agg(sort_array(collect_list(struct(col("pos"), col("w")))).as("tw"))
          .withColumn("toks", expr("transform(tw, s -> s.w)"))
          .filter(size(col("toks")) <= 4)
          .select(col("doc_id"), col("run"),
            concat_ws(" ", col("toks")).as("phrase"),
            size(col("toks")).cast("long").as("plen"), col("toks"))
        val ptoks = phrases.select(col("doc_id"), col("run"), col("phrase"),
          col("plen"), explode(col("toks")).as("w"))
        val wsc = ptoks.groupBy("w")
          .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
          .withColumn("wscore", graft.functions.GraftFunctions.longDiv(
            dec(col("deg")) * lit(1000000L).cast("decimal(38,0)"), dec(col("freq")))
            .cast("long"))
          .select("w", "wscore")
        val occ = ptoks.join(wsc, "w")
          .groupBy("doc_id", "run", "phrase")
          .agg(sum("wscore").cast("long").as("score"))
        occ.groupBy("phrase")
          .agg(count(lit(1)).as("n_occ"), max("score").as("score_x1e6"))
          .orderBy(col("score_x1e6").desc, col("n_occ").desc, col("phrase"))
          .limit(20)
      },
      Some {
        val stop = graft.ops.TextOps.stopwords.toMap.apply("en")
          .map(w => s"'$w'").mkString(", ")
        s"""WITH toks AS (SELECT doc_id,
           |    regexp_split_to_array(lower(text), '\\s+') AS tk FROM documents),
           |pt AS (SELECT doc_id, unnest(generate_series(1, len(tk))) AS pos, tk
           |       FROM toks),
           |pw AS (SELECT doc_id, pos,
           |    regexp_replace(tk[pos], '[^a-z0-9]', '', 'g') AS w FROM pt),
           |pb AS (SELECT doc_id, pos, w,
           |    (w IN ($stop) OR w = '') AS bnd FROM pw),
           |r AS (SELECT doc_id, pos, w, bnd,
           |    sum(CASE WHEN bnd THEN 1 ELSE 0 END)
           |      OVER (PARTITION BY doc_id ORDER BY pos) AS run
           |  FROM pb),
           |ph AS (SELECT doc_id, run,
           |    string_agg(w, ' ' ORDER BY pos) AS phrase,
           |    CAST(count(*) AS BIGINT) AS plen
           |  FROM r WHERE NOT bnd GROUP BY 1, 2 HAVING count(*) <= 4),
           |pt2 AS (SELECT doc_id, run, phrase, plen,
           |    unnest(string_split(phrase, ' ')) AS w FROM ph),
           |wsc AS (SELECT w,
           |    CAST(CAST(sum(plen) AS HUGEINT) * 1000000 // count(*) AS BIGINT) AS wscore
           |  FROM pt2 GROUP BY 1),
           |occ AS (SELECT doc_id, run, phrase,
           |    CAST(sum(wscore) AS BIGINT) AS score
           |  FROM pt2 JOIN wsc USING (w) GROUP BY 1, 2, 3)
           |SELECT phrase, count(*) AS n_occ, max(score) AS score_x1e6
           |FROM occ GROUP BY 1
           |ORDER BY score_x1e6 DESC, n_occ DESC, phrase LIMIT 20""".stripMargin
      }),

    // DAU / trailing-7-day WAU / stickiness per day — the engagement
    // panel every product pipeline reports. The (user, day) incidence
    // deduplicates FIRST (one shuffle, the frame every metric derives
    // from), WAU comes from the bin-keyed expansion — each active day
    // contributes to the 7 cover days it can serve, a BOUNDED ×7
    // explode, never a range join — and stickiness = dau·1e6 div wau
    // stays exact integer.
    "events_active_users" -> Q(
      (s, d) => {
        val ud = Tables.events(s, d)
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        val bounds = ud.agg(min("day").as("mn"), max("day").as("mx"))
        val wau = ud
          .withColumn("cover", explode(expr("sequence(day, day + interval 6 day)")))
          .crossJoin(broadcast(bounds))
          .filter(col("cover").between(col("mn"), col("mx")))
          .groupBy(col("cover").as("day"))
          .agg(countDistinct("user_id").as("wau"))
        val dau = ud.groupBy("day").agg(countDistinct("user_id").as("dau"))
        dau.join(wau, "day")
          .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("dau").cast("long").as("dau"), col("wau").cast("long").as("wau"),
            expr("dau * 1000000L div wau").cast("long").as("stickiness_x1e6"))
          .orderBy("day")
      },
      Some(
        """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
          |b AS (SELECT min(day) AS mn, max(day) AS mx FROM ud),
          |cov AS (SELECT user_id, unnest(generate_series(day, day + INTERVAL 6 DAY,
          |                               INTERVAL 1 DAY)) AS cover
          |        FROM ud),
          |wau AS (SELECT CAST(cover AS DATE) AS day, count(DISTINCT user_id) AS wau
          |        FROM cov CROSS JOIN b
          |        WHERE CAST(cover AS DATE) BETWEEN mn AND mx GROUP BY 1),
          |dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1)
          |SELECT strftime(dau.day, '%Y-%m-%d') AS day,
          |  CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
          |  CAST(dau * 1000000 // wau AS BIGINT) AS stickiness_x1e6
          |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin)),

    // Degree assortativity of the support-pruned co-order graph — do
    // high-degree parts co-occur with other hubs (r > 0) or with
    // leaves (r < 0)? Each undirected edge enters BOTH orientations, so
    // the x/y marginals coincide and Pearson needs NO sqrt:
    // r = (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²) — exact DECIMAL integers,
    // sign factored out of the ×1e6 quantization. Two keyed joins of
    // the degree frame onto the edge list.
    "graph_assortativity" -> Q(
      (s, d) => {
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        val e0 = graft.ops.Basket.coOrderEdges(Tables.lineitem(s, d), minSupport = 2)
          .select("pa", "pb")
        val e = e0.unionAll(e0.select(col("pb").as("pa"), col("pa").as("pb")))
        val deg = e.groupBy(col("pa").as("node")).agg(count(lit(1)).as("deg"))
        val xy = e
          .join(deg.select(col("node").as("pa"), col("deg").as("dx")), "pa")
          .join(deg.select(col("node").as("pb"), col("deg").as("dy")), "pb")
        xy.agg(count(lit(1)).as("n2"),
            sum(dec(col("dx"))).as("sx"),
            sum(dec(col("dx")) * dec(col("dx"))).as("sxx"),
            sum(dec(col("dx")) * dec(col("dy"))).as("sxy"))
          .select(
            (col("n2") / 2).cast("long").as("n_edges"),
            (when(dec(col("n2")) * col("sxy") - col("sx") * col("sx") < 0, lit(-1L))
              .otherwise(lit(1L)) *
              graft.functions.GraftFunctions.longDiv(
                abs(dec(col("n2")) * col("sxy") - col("sx") * col("sx")) *
                  lit(1000000L).cast("decimal(38,0)"),
                dec(col("n2")) * col("sxx") - col("sx") * col("sx")).cast("long"))
              .as("assortativity_x1e6"))
      },
      Some(
        """WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
          |e0 AS MATERIALIZED (SELECT a.pk AS pa, b.pk AS pb
          |      FROM op a JOIN op b ON b.ok = a.ok AND a.pk < b.pk
          |      GROUP BY 1, 2 HAVING count(*) >= 2),
          |e AS (SELECT pa, pb FROM e0 UNION ALL SELECT pb, pa FROM e0),
          |deg AS (SELECT pa AS node, count(*) AS deg FROM e GROUP BY 1),
          |xy AS (SELECT CAST(da.deg AS HUGEINT) AS dx, CAST(db.deg AS HUGEINT) AS dy
          |       FROM e JOIN deg da ON da.node = e.pa JOIN deg db ON db.node = e.pb),
          |s AS (SELECT count(*) AS n2, sum(dx) AS sx, sum(dx * dx) AS sxx,
          |             sum(dx * dy) AS sxy
          |      FROM xy)
          |SELECT CAST(n2 // 2 AS BIGINT) AS n_edges,
          |  CAST((CASE WHEN n2 * sxy - sx * sx < 0 THEN -1 ELSE 1 END) *
          |       (abs(n2 * sxy - sx * sx) * 1000000
          |        // (n2 * sxx - sx * sx)) AS BIGINT) AS assortativity_x1e6
          |FROM s""".stripMargin)),

    // Mahalanobis-style embedding outliers (diagonal covariance): per
    // dimension, deviations enter ×n (n·x − Σx) against the variance
    // ×n² (n·Σx² − (Σx)²) so every z² term is one exact integer
    // division ×1e6; a vector's score sums its 64 per-dim terms. The
    // 64-row dim-stats frame BROADCASTS back onto the exploded vectors;
    // top-20 outliers, deterministic tie-break. The embedding-QA
    // sibling of events_anomaly_mad.
    "emb_outliers" -> Q(
      (s, d) => {
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        val q = Tables.embeddings(s, d)
          .select(col("vec_id"),
            posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
          .select(col("vec_id"), col("dim"),
            floor(col("x") * 1000000).cast("long").as("xq"))
        val st = q.groupBy("dim")
          .agg(count(lit(1)).as("n"), sum(dec(col("xq"))).as("s"),
            sum(dec(col("xq")) * dec(col("xq"))).as("sxx"))
          .withColumn("varn2", dec(col("n")) * col("sxx") - col("s") * col("s"))
        q.join(broadcast(st), "dim")
          .withColumn("devn", dec(col("n")) * dec(col("xq")) - col("s"))
          .withColumn("z2_x1e6", graft.functions.GraftFunctions.longDiv(
            col("devn") * col("devn") * lit(1000000L).cast("decimal(38,0)"),
            col("varn2")).cast("long"))
          .groupBy("vec_id")
          .agg(sum("z2_x1e6").cast("long").as("md_x1e6"))
          .orderBy(col("md_x1e6").desc, col("vec_id"))
          .limit(20)
      },
      Some(
        """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
          |q AS (SELECT vec_id, g.i - 1 AS dim,
          |        CAST(floor(e[g.i] * 1000000) AS BIGINT) AS xq
          |      FROM v CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(e))) AS i) g),
          |st AS (SELECT dim, count(*) AS n, sum(CAST(xq AS HUGEINT)) AS s,
          |         sum(CAST(xq AS HUGEINT) * xq) AS sxx
          |       FROM q GROUP BY 1),
          |z AS (SELECT q.vec_id,
          |    ((st.n * q.xq - st.s) * (st.n * q.xq - st.s) * 1000000)
          |      // (st.n * st.sxx - st.s * st.s) AS z2
          |  FROM q JOIN st USING (dim))
          |SELECT vec_id, CAST(sum(z2) AS BIGINT) AS md_x1e6
          |FROM z GROUP BY 1
          |ORDER BY md_x1e6 DESC, vec_id LIMIT 20""".stripMargin)),

    // ABC / Pareto inventory classification of parts by lineitem
    // revenue: class A covers the first 80% of revenue in descending
    // order, B to 95%, C the tail. The descending cumulative comes from
    // the ASCENDING two-phase prefix sum (Stats.bucketedPrefixSum — no
    // corpus-sized sort partition): cumDesc = total − prefixAsc + rev,
    // which equals the oracle's sum() OVER (ORDER BY rev DESC, pk DESC).
    // Class predicates are exact integer cross-multiplications.
    "orders_abc_classes" -> Q(
      (s, d) => {
        val rev = Tables.lineitem(s, d)
          .groupBy(col("l_partkey").as("pk"))
          .agg(sum(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")).as("rev")
            .cast("long").as("rev"))
        val pre = graft.ops.Stats.bucketedPrefixSum(rev, "rev", "pk",
          bucketWidth = 1L << 22)
        val tot = rev.agg(sum("rev").as("total"))
        pre.crossJoin(broadcast(tot))
          .withColumn("cum_desc", col("total") - col("prefix") + col("rev"))
          .withColumn("cls",
            when(col("cum_desc") * 10 <= col("total") * 8, "A")
              .when(col("cum_desc") * 100 <= col("total") * 95, "B")
              .otherwise("C"))
          .groupBy("cls")
          .agg(count(lit(1)).as("n_parts"), sum("rev").cast("long").as("revenue_c"))
          .crossJoin(broadcast(tot))
          // revenue_c·1e6 overflows BIGINT past ~9e12 cents — DECIMAL
          .withColumn("share_x1e6", graft.functions.GraftFunctions.longDiv(
            col("revenue_c").cast("decimal(38,0)") * lit(1000000L).cast("decimal(38,0)"),
            col("total").cast("decimal(38,0)")).cast("long"))
          .select("cls", "n_parts", "revenue_c", "share_x1e6")
          .orderBy("cls")
      },
      Some(
        """WITH rev AS (SELECT l_partkey AS pk,
          |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
          |  FROM lineitem GROUP BY 1),
          |t AS (SELECT sum(rev) AS total FROM rev),
          |c AS (SELECT rev,
          |    sum(rev) OVER (ORDER BY rev DESC, pk DESC
          |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_desc
          |  FROM rev),
          |k AS (SELECT rev,
          |    CASE WHEN cum_desc * 10 <= total * 8 THEN 'A'
          |         WHEN cum_desc * 100 <= total * 95 THEN 'B'
          |         ELSE 'C' END AS cls
          |  FROM c CROSS JOIN t)
          |SELECT cls, count(*) AS n_parts, CAST(sum(rev) AS BIGINT) AS revenue_c,
          |  CAST(CAST(sum(rev) AS HUGEINT) * 1000000 // (SELECT total FROM t) AS BIGINT)
          |    AS share_x1e6
          |FROM k GROUP BY 1 ORDER BY cls""".stripMargin)),

    // Shannon entropy of the event-type mix per day — the
    // concentration/diversity monitor (a day where one type crowds out
    // the rest drops toward 0). Per-cell terms floor(c·ln c · 1e6)
    // BEFORE the sum (order-free integer aggregation, the PSI
    // discipline); the per-day combine H = ln(n) − Σc·ln c / n is a
    // fixed sequence of IEEE ops from integers. One groupBy to the
    // day×type frame.
    "events_type_entropy" -> Q(
      (s, d) => {
        val cell = Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(count(lit(1)).as("c"))
          .withColumn("term", floor(col("c").cast("double") *
            log(col("c").cast("double")) * lit(1000000.0)).cast("long"))
        cell.groupBy("day")
          .agg(sum("c").as("n"), count(lit(1)).as("n_types"), sum("term").as("s"))
          .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("n").cast("long").as("n"),
            col("n_types").cast("long").as("n_types"),
            floor((log(col("n").cast("double")) * col("n").cast("double") *
              lit(1000000.0) - col("s").cast("double")) / col("n").cast("double"))
              .cast("long").as("entropy_x1e6"))
          .orderBy("day")
      },
      Some(
        """WITH cell AS (SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS c
          |              FROM events GROUP BY 1, 2),
          |tm AS (SELECT day, c,
          |    CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) * 1000000.0) AS BIGINT) AS term
          |  FROM cell),
          |d AS (SELECT day, sum(c) AS n, count(*) AS n_types, sum(term) AS s FROM tm GROUP BY 1)
          |SELECT strftime(day, '%Y-%m-%d') AS day, CAST(n AS BIGINT) AS n,
          |  CAST(n_types AS BIGINT) AS n_types,
          |  CAST(floor((ln(CAST(n AS DOUBLE)) * CAST(n AS DOUBLE) * 1000000.0
          |              - CAST(s AS DOUBLE)) / CAST(n AS DOUBLE)) AS BIGINT) AS entropy_x1e6
          |FROM d ORDER BY day""".stripMargin)),

    // Wald–Wolfowitz runs test on the hourly volume series: is the
    // above/below-mean sign sequence random, or does volume trend/
    // cluster? Sign via the exact integer predicate x·H > total; runs
    // from one lag over the span-bounded hourly frame; the expected
    // run count 1 + 2ab/n and its variance 2ab(2ab−n)/(n²(n−1)) stay
    // exact ×1e6 integers — no sqrt, the z-score is the reader's one
    // division.
    "stats_runs_test" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        val hourly = Tables.events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("x"))
        val tot = hourly.agg(sum("x").as("total"), count(lit(1)).as("nh"))
        val signed = hourly.crossJoin(broadcast(tot))
          .withColumn("sgn", (col("x") * col("nh") > col("total")).cast("long"))
        val runs = signed
          .withColumn("chg",
            when(lag("sgn", 1).over(Window.orderBy("h")).isNull, 1L)
              .when(lag("sgn", 1).over(Window.orderBy("h")) =!= col("sgn"), 1L)
              .otherwise(0L))
        runs.agg(max("nh").cast("long").as("n_hours"),
            sum("sgn").cast("long").as("n_above"),
            (max("nh") - sum("sgn")).cast("long").as("n_below"),
            sum("chg").cast("long").as("runs"),
            graft.functions.GraftFunctions.longDiv(
              dec(lit(1000000L)) * (dec(max("nh")) +
                dec(lit(2L)) * dec(sum("sgn")) * (dec(max("nh")) - dec(sum("sgn")))),
              dec(max("nh"))).cast("long").as("expected_x1e6"),
            graft.functions.GraftFunctions.longDiv(
              dec(lit(2L)) * dec(sum("sgn")) * (dec(max("nh")) - dec(sum("sgn"))) *
                (dec(lit(2L)) * dec(sum("sgn")) * (dec(max("nh")) - dec(sum("sgn"))) -
                  dec(max("nh"))) * dec(lit(1000000L)),
              dec(max("nh")) * dec(max("nh")) * (dec(max("nh")) - dec(lit(1L))))
              .cast("long").as("var_x1e6"))
      },
      Some(
        """WITH hourly AS (SELECT date_trunc('hour', ts) AS h, count(*) AS x
          |               FROM events GROUP BY 1),
          |t AS (SELECT sum(x) AS total, count(*) AS nh FROM hourly),
          |sg AS (SELECT h, CASE WHEN x * nh > total THEN 1 ELSE 0 END AS sgn
          |       FROM hourly CROSS JOIN t),
          |r AS (SELECT sgn, CASE WHEN lag(sgn) OVER (ORDER BY h) IS NULL THEN 1
          |                       WHEN lag(sgn) OVER (ORDER BY h) <> sgn THEN 1
          |                       ELSE 0 END AS chg
          |      FROM sg),
          |a AS (SELECT CAST((SELECT nh FROM t) AS HUGEINT) AS n,
          |             CAST(sum(sgn) AS HUGEINT) AS a, sum(chg) AS runs
          |      FROM r)
          |SELECT CAST(n AS BIGINT) AS n_hours, CAST(a AS BIGINT) AS n_above,
          |  CAST(n - a AS BIGINT) AS n_below, CAST(runs AS BIGINT) AS runs,
          |  CAST((1000000 * (n + 2 * a * (n - a))) // n AS BIGINT) AS expected_x1e6,
          |  CAST((2 * a * (n - a) * (2 * a * (n - a) - n) * 1000000)
          |       // (n * n * (n - 1)) AS BIGINT) AS var_x1e6
          |FROM a""".stripMargin)),

    // Period-over-period growth — the monthly revenue panel with
    // month-over-month delta and year-over-year ratio. Prior periods
    // come from SELF-JOINS on computed month keys (add_months), never
    // positional lag: a gap month would silently shift a lag(12) to the
    // wrong year, a calendar join can't. The month frame is span-bounded
    // (one row per month of corpus time), so both joins broadcast.
    // Revenue in exact cents; the YoY ratio is one DECIMAL division.
    "date_mom_growth" -> Q(
      (s, d) => {
        val m = Tables.orders(s, d)
          .groupBy(date_trunc("month", col("o_orderdate")).as("mo"))
          .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
            .cast("long").as("rev_c"))
        val prev = m.select(col("mo").as("pmo"), col("rev_c").as("prev_c"))
        val yago = m.select(col("mo").as("ymo"), col("rev_c").as("yago_c"))
        m.join(broadcast(prev), add_months(col("mo"), -1) === col("pmo"), "left")
          .join(broadcast(yago), add_months(col("mo"), -12) === col("ymo"), "left")
          .select(date_format(col("mo"), "yyyy-MM").as("month"),
            col("rev_c"),
            // NULLABLE integral outputs must ship as DOUBLE: the
            // compare's pandas reading coerces a nullable BIGINT column
            // to float64, so an integer-typed Spark cell never matches.
            // Values are cents (< 2^53) — the double is exact.
            (col("rev_c") - col("prev_c")).cast("double").as("mom_delta_c"),
            graft.functions.GraftFunctions.longDiv(
              col("rev_c").cast("decimal(38,0)") * lit(1000000L).cast("decimal(38,0)"),
              col("yago_c").cast("decimal(38,0)")).cast("double").as("yoy_x1e6"))
          .orderBy("month")
      },
      Some(
        """WITH m AS (SELECT date_trunc('month', o_orderdate) AS mo,
          |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_c
          |  FROM orders GROUP BY 1)
          |SELECT strftime(m.mo, '%Y-%m') AS month, m.rev_c,
          |  CAST(m.rev_c - p.rev_c AS DOUBLE) AS mom_delta_c,
          |  CAST(CAST(m.rev_c AS HUGEINT) * 1000000 // y.rev_c AS DOUBLE) AS yoy_x1e6
          |FROM m
          |LEFT JOIN m p ON p.mo = m.mo - INTERVAL 1 MONTH
          |LEFT JOIN m y ON y.mo = m.mo - INTERVAL 12 MONTH
          |ORDER BY month""".stripMargin)),

    // Referential-integrity audit of the whole star schema — the data
    // quality gate a 100 TB warehouse runs before publishing: per FK
    // edge, child row count and orphan row count (child rows whose key
    // has no parent). Each edge first collapses the child to its key
    // frame (count per key — the shuffle is key-cardinality sized, not
    // row sized), then probes the parent key set; dimension parents
    // broadcast. Fact–fact edges (lineitem→orders) stay keyed
    // shuffle joins.
    "quality_referential_integrity" -> Q(
      (s, d) => {
        def edge(name: String, child: DataFrame, ck: String,
                 parent: DataFrame, pk: String, bcast: Boolean): DataFrame = {
          // one child scan, one keyed probe, one agg — totals and
          // orphans come from the SAME left join (conditional sums),
          // so no scalar crossJoin and no second pass over the child
          val keys = child.groupBy(col(ck).as("k")).agg(count(lit(1)).as("c"))
          val par = parent.select(col(pk).as("k")).distinct()
            .withColumn("hit", lit(1))
          keys.join(if (bcast) broadcast(par) else par, Seq("k"), "left")
            .agg(sum("c").as("n_rows"),
              coalesce(sum(when(col("hit").isNull, col("c"))), lit(0L))
                .as("n_orphan_rows"),
              count(when(col("hit").isNull, lit(1))).as("n_orphan_keys"))
            .select(lit(name).as("fk"), col("n_rows").cast("long"),
              col("n_orphan_rows").cast("long"), col("n_orphan_keys").cast("long"))
        }
        val li = Tables.lineitem(s, d); val o = Tables.orders(s, d)
        val c = Tables.customer(s, d); val su = Tables.supplier(s, d)
        val p = Tables.part(s, d); val n = Tables.nation(s, d)
        val r = Tables.region(s, d)
        edge("customer.nation", c, "c_nationkey", n, "n_nationkey", bcast = true)
          .unionAll(edge("lineitem.order", li, "l_orderkey", o, "o_orderkey", bcast = false))
          .unionAll(edge("lineitem.part", li, "l_partkey", p, "p_partkey", bcast = false))
          .unionAll(edge("lineitem.supplier", li, "l_suppkey", su, "s_suppkey", bcast = true))
          .unionAll(edge("nation.region", n, "n_regionkey", r, "r_regionkey", bcast = true))
          .unionAll(edge("orders.customer", o, "o_custkey", c, "c_custkey", bcast = false))
          .unionAll(edge("supplier.nation", su, "s_nationkey", n, "n_nationkey", bcast = true))
          .orderBy("fk")
      },
      Some {
        def e(name: String, child: String, ck: String, parent: String, pk: String) =
          s"""SELECT '$name' AS fk, CAST(sum(c) AS BIGINT) AS n_rows,
             |  CAST(coalesce(sum(CASE WHEN p.$pk IS NULL THEN c END), 0) AS BIGINT)
             |    AS n_orphan_rows,
             |  CAST(count(CASE WHEN p.$pk IS NULL THEN 1 END) AS BIGINT) AS n_orphan_keys
             |FROM (SELECT $ck AS k, count(*) AS c FROM $child GROUP BY 1) kk
             |LEFT JOIN $parent p ON p.$pk = kk.k""".stripMargin
        Seq(
          e("customer.nation", "customer", "c_nationkey", "nation", "n_nationkey"),
          e("lineitem.order", "lineitem", "l_orderkey", "orders", "o_orderkey"),
          e("lineitem.part", "lineitem", "l_partkey", "part", "p_partkey"),
          e("lineitem.supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
          e("nation.region", "nation", "n_regionkey", "region", "r_regionkey"),
          e("orders.customer", "orders", "o_custkey", "customer", "c_custkey"),
          e("supplier.nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
          .mkString("", "\nUNION ALL\n", "\nORDER BY fk")
      }),

    // Kaplan–Meier survival of time-to-first-purchase (days from a
    // user's first event), right-censored at corpus end — the
    // conversion-lag curve with honest censoring. The corpus collapses
    // to one row per user (first event day, first purchase day), then
    // to the span-bounded day-offset frame; at-risk counts come from a
    // cumulative window over that tiny frame. The KM product is carried
    // in LOG space as exact integers: per-day terms
    // floor(ln((r−e)/r)·1e6) summed cumulatively (order-free — the
    // entropy/PSI discipline), so the gate never hashes an exp().
    // Batch member of the KM family: the SAME survivalUserState →
    // survivalKmFromState derivation as the streaming twin (one code
    // path, zero drift; per-user min/min/max state is commutative, so
    // the twin is disorder-immune — GraphStreamSpec pins equality on a
    // disordered split). The horizon mx = max(last_day) over users
    // equals max(day) over events: every event row enters exactly one
    // user group.
    "events_survival_km" -> Q(
      (s, d) => graft.streaming.EventStream.survivalKmFromState(
        graft.streaming.EventStream.survivalUserState(Tables.events(s, d))),
      Some(
        """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day, event_type FROM events),
          |per AS (SELECT user_id, min(day) AS t0,
          |    min(CASE WHEN event_type = 'purchase' THEN day END) AS conv
          |  FROM ev GROUP BY 1),
          |mx AS (SELECT max(day) AS mx FROM ev),
          |durs AS (SELECT user_id, conv IS NOT NULL AS converted,
          |    CAST(CASE WHEN conv IS NOT NULL THEN conv - t0 ELSE mx - t0 END AS BIGINT) AS dur
          |  FROM per CROSS JOIN mx),
          |bd AS (SELECT dur, sum(CASE WHEN converted THEN 1 ELSE 0 END) AS e,
          |    sum(CASE WHEN converted THEN 0 ELSE 1 END) AS c
          |  FROM durs GROUP BY 1),
          |ar AS (SELECT dur, e, c,
          |    sum(e + c) OVER (ORDER BY dur ROWS BETWEEN CURRENT ROW
          |                     AND UNBOUNDED FOLLOWING) AS at_risk
          |  FROM bd),
          |tm AS (SELECT dur, e, c, at_risk,
          |    CASE WHEN at_risk > e THEN CAST(floor(ln(CAST(at_risk - e AS DOUBLE)
          |      / CAST(at_risk AS DOUBLE)) * 1000000.0) AS BIGINT) END AS term
          |  FROM ar)
          |SELECT CAST(dur AS BIGINT) AS day_offset, CAST(e AS BIGINT) AS n_conv,
          |  CAST(c AS BIGINT) AS n_censored, CAST(at_risk AS BIGINT) AS at_risk,
          |  CAST(sum(term) OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
          |                       AND CURRENT ROW) AS BIGINT) AS log_surv_x1e6
          |FROM tm ORDER BY day_offset""".stripMargin))

  )
}
