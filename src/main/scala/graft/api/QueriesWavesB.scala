package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Engine
import graft.expr.PatternCompiler
import graft.model.{ArrayOp, TriplePattern}
import QueriesShared._

/** Extension waves (rounds 9+): graph iteratives, stats, lakehouse ops (part 2 of 3, original declaration order).
  *
  * One contiguous, ORDER-PRESERVING slice of the declared query
  * surface; [[Queries.registry]] concatenates the slices in the
  * original declaration order. Entries are (name -> Q) pairs exactly
  * as they appeared in the pre-split Queries.scala.
  */
private[api] object QueriesWavesB {
  val entries: Seq[(String, Q)] = Seq(
    // HITS hubs/authorities on the customer–part purchase bipartite
    // graph — see ops/Basket.hitsBipartite. The oracle is the
    // mechanical 3-round unroll with MATERIALIZED CTEs (the sssp/kcore
    // discipline); fixed-point rescale keeps both engines in exact
    // BIGINT arithmetic.
    "graph_hits_parts" -> Q(
      (s, d) => graft.ops.Basket.hitsBipartite(
        Tables.lineitem(s, d), Tables.orders(s, d), rounds = 3, k = 20),
      Some {
        val base =
          """WITH e AS MATERIALIZED (
            |  SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
            |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
            |h0 AS (SELECT DISTINCT ck, CAST(1048576 AS BIGINT) AS h FROM e)""".stripMargin
        val steps = (1 to 3).flatMap { i =>
          Seq(
            s"""a${i}r AS MATERIALIZED (SELECT pk, sum(h) AS a
               |  FROM e JOIN h${i - 1} USING (ck) GROUP BY 1)""".stripMargin,
            s"""a$i AS MATERIALIZED (SELECT pk,
               |  a * 1048576 // (SELECT max(a) FROM a${i}r) AS a FROM a${i}r)""".stripMargin,
            s"""h${i}r AS MATERIALIZED (SELECT ck, sum(a) AS h
               |  FROM e JOIN a$i USING (pk) GROUP BY 1)""".stripMargin,
            s"""h$i AS MATERIALIZED (SELECT ck,
               |  h * 1048576 // (SELECT max(h) FROM h${i}r) AS h FROM h${i}r)""".stripMargin)
        }
        (Seq(base) ++ steps).mkString(",\n") +
          """
            |SELECT CAST(pk AS BIGINT) AS part_id, CAST(a AS BIGINT) AS auth_x2p20
            |FROM a3 ORDER BY a DESC, pk LIMIT 20""".stripMargin
      }),

    // CCNet-style perplexity bucketing (Wenzek et al., LREC'20): every
    // doc scored by its mean corpus-bigram inverse probability (the
    // text_bigram_surprisal model, ×1e6 integers), then split into
    // head/middle/tail TERCILES by exact two-phase rank — the
    // bucket boundary is (rank−1)·3 div n on both sides, so the gate
    // never hashes a float quantile. The LM fit and the scoring are the
    // same two keyed joins; ranking adds no corpus-sized window
    // (Stats.bucketedRank).
    "text_perplexity_buckets" -> Q(
      (s, d) => {
        val bg = Tables.documents(s, d)
          .select(col("doc_id"), expr(
            "filter(split(lower(text), '\\\\s+'), t -> t != '')").as("tk"))
          .filter(size(col("tk")) >= 2)
          .select(col("doc_id"), explode(expr(
            "transform(slice(tk, 1, size(tk) - 1), (w, i) -> struct(w AS w1, tk[i + 1] AS w2))")).as("b"))
          .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        val lm = bg.groupBy("w1", "w2").agg(count(lit(1)).as("nb"))
        val ctx = lm.groupBy("w1").agg(sum("nb").as("nu"))
        val scored = bg.join(lm, Seq("w1", "w2")).join(ctx, Seq("w1"))
          .withColumn("inv_p_x1e6", expr("nu * 1000000L div nb"))
          .groupBy("doc_id")
          .agg(expr("sum(inv_p_x1e6) div count(*)").as("score"))
        val ranked = graft.ops.Stats.bucketedRank(scored, "score", "doc_id",
          bucketWidth = 1L << 32)
        val tot = scored.agg(count(lit(1)).as("n"))
        ranked.crossJoin(broadcast(tot))
          .withColumn("bucket", expr("(rank - 1) * 3 div n"))
          .join(Tables.documents(s, d).select("doc_id", "n_chars"), "doc_id")
          .groupBy(when(col("bucket") === 0, "head")
            .when(col("bucket") === 1, "middle").otherwise("tail").as("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            expr("sum(score) div count(*)").cast("long").as("mean_score_x1e6"),
            expr("sum(n_chars) div count(*)").cast("long").as("mean_chars"))
          .orderBy("bucket")
      },
      Some(
        """WITH t AS (SELECT doc_id, list_filter(
          |    regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS tk
          |  FROM documents),
          |u AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS i
          |      FROM t WHERE len(tk) >= 2),
          |bg AS (SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2 FROM u),
          |lm AS (SELECT w1, w2, count(*) AS nb FROM bg GROUP BY 1, 2),
          |ctx AS (SELECT w1, CAST(sum(nb) AS BIGINT) AS nu FROM lm GROUP BY 1),
          |sc AS (SELECT doc_id,
          |    CAST(sum(nu * 1000000 // nb) // count(*) AS BIGINT) AS score
          |  FROM bg JOIN lm USING (w1, w2) JOIN ctx USING (w1)
          |  GROUP BY doc_id),
          |rk AS (SELECT doc_id, score,
          |    row_number() OVER (ORDER BY score, doc_id) AS rank,
          |    count(*) OVER () AS n
          |  FROM sc),
          |bk AS (SELECT doc_id, score, (rank - 1) * 3 // n AS bucket FROM rk)
          |SELECT CASE bucket WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
          |         ELSE 'tail' END AS bucket,
          |  count(*) AS n_docs,
          |  CAST(sum(score) // count(*) AS BIGINT) AS mean_score_x1e6,
          |  CAST(sum(n_chars) // count(*) AS BIGINT) AS mean_chars
          |FROM bk JOIN documents USING (doc_id)
          |GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // 1-D earth-mover distance (Wasserstein-1) of each source's
    // document-length distribution against the whole corpus — the
    // drift metric that measures how FAR mass moved, complementing
    // PSI/KS/TVD which only see that it moved. Lengths bin to a fixed
    // 64-cell grid over the global [min,max]; EMD = Σ_bins
    // |CumF_src − CumF_all| with the ECDF difference cross-multiplied
    // into exact integers (the KS discipline) and ONE integral
    // division per source at the end. The corpus collapses to the
    // source×bin grid in a single aggregation; every window runs on
    // that ≤ sources×64 frame.
    "stats_emd_sources" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        val docs = Tables.documents(s, d).select(col("source"), col("n_chars"))
        val ext = docs.agg(min("n_chars").as("mn"), max("n_chars").as("mx"))
        val cell = docs.crossJoin(broadcast(ext))
          .withColumn("bin", least(
            expr("(n_chars - mn) * 64 div (mx - mn + 1)"), lit(63L)))
          .groupBy("source", "bin").agg(count(lit(1)).as("c"))
        // dense grid: every (source × 0..63) cell, zeros included, so
        // the cumulative is defined at every bin edge
        val grid = cell.select("source").distinct()
          .select(col("source"), explode(expr("sequence(0L, 63L)")).as("bin"))
          .join(cell, Seq("source", "bin"), "left")
          .withColumn("c", coalesce(col("c"), lit(0L)))
        val wSrc = Window.partitionBy("source").orderBy("bin")
        val cum = grid.withColumn("cum_s", sum("c").over(wSrc))
        val all = cum.groupBy("bin").agg(sum("c").as("ca"))
          .withColumn("cum_a", sum("ca").over(Window.orderBy("bin")))
          .select("bin", "cum_a")
        val nS = cell.groupBy("source").agg(sum("c").as("n_s"))
        val nAll = docs.agg(count(lit(1)).as("n_all"))
        cum.join(broadcast(all), "bin").join(broadcast(nS), "source")
          .crossJoin(broadcast(nAll))
          .withColumn("dev", abs(dec(col("cum_s")) * dec(col("n_all")) -
            dec(col("cum_a")) * dec(col("n_s"))))
          .groupBy("source")
          .agg(max("n_s").cast("long").as("n_docs"),
            graft.functions.GraftFunctions.longDiv(
              sum("dev") * dec(lit(1000000L)),
              dec(max("n_s")) * dec(max("n_all"))).cast("long").as("emd_x1e6"))
          .orderBy("source")
      },
      Some(
        """WITH docs AS (SELECT source, n_chars FROM documents),
          |ext AS (SELECT min(n_chars) AS mn, max(n_chars) AS mx FROM docs),
          |cell AS (SELECT source,
          |    least((n_chars - mn) * 64 // (mx - mn + 1), 63) AS bin,
          |    count(*) AS c
          |  FROM docs CROSS JOIN ext GROUP BY 1, 2),
          |grid AS (SELECT s.source, b.bin, coalesce(cell.c, 0) AS c
          |  FROM (SELECT DISTINCT source FROM cell) s
          |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS bin) b
          |  LEFT JOIN cell ON cell.source = s.source AND cell.bin = b.bin),
          |cum AS (SELECT source, bin, c,
          |    sum(c) OVER (PARTITION BY source ORDER BY bin) AS cum_s
          |  FROM grid),
          |al AS (SELECT bin, sum(c) AS ca FROM cum GROUP BY bin),
          |alc AS (SELECT bin, sum(ca) OVER (ORDER BY bin) AS cum_a FROM al),
          |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM cell GROUP BY 1),
          |na AS (SELECT count(*) AS n_all FROM docs)
          |SELECT source, CAST(n_s AS BIGINT) AS n_docs,
          |  CAST(sum(abs(CAST(cum_s AS HUGEINT) * n_all - CAST(cum_a AS HUGEINT) * n_s))
          |    * 1000000 // (CAST(n_s AS HUGEINT) * n_all) AS BIGINT) AS emd_x1e6
          |FROM cum JOIN alc USING (bin) JOIN ns USING (source) CROSS JOIN na
          |GROUP BY source, n_s, n_all ORDER BY source""".stripMargin)),

    // Contrastive hard-negative mining — see ops/Similarity.hardNegatives.
    "sim_hard_negatives" -> Q(
      (s, d) => graft.ops.Similarity.hardNegatives(
          Tables.embeddings(s, d), queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 5)
        .orderBy("query_id", "rnk"),
      Some(
        """WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
          |           FROM embeddings),
          |q AS (SELECT vec_id AS query_id, label AS qlabel, e AS qe
          |      FROM v WHERE vec_id IN (0, 1, 2, 3, 4)),
          |scored AS (
          |  SELECT query_id, vec_id, label,
          |    round(list_dot_product(e, qe)
          |      / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe))), 6) AS cos
          |  FROM v CROSS JOIN q WHERE vec_id <> query_id AND label <> qlabel),
          |r AS (SELECT query_id, vec_id, label, cos,
          |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
          |      FROM scored)
          |SELECT query_id, vec_id, CAST(label AS BIGINT) AS neg_label, cos,
          |  CAST(rnk AS INT) AS rnk
          |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin)),

    // Wide star-schema flatten with a per-region order-invariant
    // checksum — the "denormalize 100 TB for export, then prove the
    // copy" primitive: lineitem joined through orders→customer→nation→
    // region plus part and supplier (the classic 6-way star), each row
    // fingerprinted with the portable 60-bit md5 family and summed
    // mod 2⁶¹−1 per region (the lakehouse_table_fingerprint
    // discipline — repartition/order-invariant, map-side combinable).
    // Fact–fact joins stay keyed; nation/region broadcast.
    "lakehouse_denorm_checksum" -> Q(
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
        val o = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
        val c = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
        val p = Tables.part(s, d).select(col("p_partkey"), col("p_brand"))
        val su = Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"))
        val n = Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        val r = Tables.region(s, d).select(col("r_regionkey"), col("r_name"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(p, col("l_partkey") === col("p_partkey"))
          .join(su, col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .withColumn("h", graft.functions.GraftFunctions.md5Hash60(concat_ws("|",
            col("l_orderkey"), col("l_linenumber"), col("o_orderstatus"),
            col("c_name"), col("p_brand"), col("s_name"), col("n_name"),
            col("r_name"))))
          .groupBy(col("r_name").as("region"))
          .agg(count(lit(1)).as("n_rows"),
            expr("CAST(sum(CAST(h AS DECIMAL(38,0))) % 2305843009213693951 AS BIGINT)")
              .as("fingerprint"))
          .orderBy("region")
      },
      Some {
        val h = GraphSql.md5Hash60(
          """l_orderkey || '|' || l_linenumber || '|' || o_orderstatus || '|' ||
            |c_name || '|' || p_brand || '|' || s_name || '|' || n_name || '|' ||
            |r_name""".stripMargin)
        s"""SELECT r_name AS region, count(*) AS n_rows,
           |  CAST(sum(CAST($h AS HUGEINT)) % 2305843009213693951 AS BIGINT)
           |    AS fingerprint
           |FROM lineitem
           |JOIN orders ON o_orderkey = l_orderkey
           |JOIN customer ON c_custkey = o_custkey
           |JOIN part ON p_partkey = l_partkey
           |JOIN supplier ON s_suppkey = l_suppkey
           |JOIN nation ON n_nationkey = c_nationkey
           |JOIN region ON r_regionkey = n_regionkey
           |GROUP BY 1 ORDER BY region""".stripMargin
      }),

    // Deterministic Poisson bootstrap CI for the mean order value
    // (Chamandy et al., "Estimating uncertainty for massive data
    // streams", Google TR 2012): replica b resamples each order with
    // weight ~ Poisson(1), derived NOT from an RNG but from the 60-bit
    // md5 of (orderkey:b) against fixed inverse-CDF thresholds
    // (floor(cdf·2⁶⁰) literals, identical on both sides) — fully
    // deterministic, repartition-invariant, and replayable in SQL. The
    // 32 replica means come from ONE pass: the ×32 explode feeds a
    // 32-group aggregate with map-side combine, so nothing
    // corpus-sized shuffles; the CI is the 2nd/31st order statistic of
    // the 32-row replica frame.
    "stats_bootstrap_ci" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val o = Tables.orders(s, d).select(col("o_orderkey"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
        // the ×32 explode multiplies CPU (32 md5s/row) but not input
        // bytes, so scan-split parallelism understates the work: a
        // single 23 MB parquet split would run the whole fan-out on
        // one core. The pre-explode repartition ships 16 bytes/row to
        // unlock 32 hashes/row of parallelism — at full scale the scan
        // has thousands of splits and AQE keeps this exchange cheap.
        // all 32 replica weights fused into ONE call per order row
        // (graft_bootstrap_weights; posexplode's pos ≡ the former
        // sequence(0,31) replica id) — the per-replica column chain
        // built a concat string, a 32-char hex digest, a substring and
        // a base-16 conv parse per row×replica; byte-identical weights
        // by construction (same md5 of "<key>:<b>", same top-60-bit
        // read, same PoissonCdfX2p60 thresholds), gated in OpsSpec
        // against the builtin chain and by the unchanged oracle.
        val rep = o.repartition(o.sparkSession.sparkContext.defaultParallelism)
          .select(col("o_orderkey"), col("cents"),
            posexplode(graft.functions.BootstrapWeightsExpr(col("o_orderkey"), 32))
              .as(Seq("b", "w")))
        val means = rep.groupBy("b")
          .agg(expr("sum(w * cents) div sum(w)").as("m"))
        val ranked = means
          .withColumn("r", row_number().over(Window.orderBy("m", "b")))
        val point = o.agg(count(lit(1)).as("n_orders"),
          expr("sum(cents) div count(*)").as("mean_c"))
        point
          .crossJoin(broadcast(ranked.filter(col("r") === 2)
            .select(col("m").as("boot_lo_c"))))
          .crossJoin(broadcast(ranked.filter(col("r") === 31)
            .select(col("m").as("boot_hi_c"))))
          .select(col("n_orders").cast("long").as("n_orders"),
            col("mean_c").cast("long").as("mean_c"),
            col("boot_lo_c").cast("long").as("boot_lo_c"),
            col("boot_hi_c").cast("long").as("boot_hi_c"))
      },
      Some {
        val h = GraphSql.md5Hash60("o_orderkey || ':' || b")
        s"""WITH o AS (SELECT o_orderkey,
           |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders),
           |rep AS (SELECT o_orderkey, cents, unnest(generate_series(0, 31)) AS b FROM o),
           |hh AS (SELECT cents, b, $h AS h FROM rep),
           |ww AS (SELECT cents, b,
           |    CASE WHEN h < 424136118829305344 THEN 0
           |         WHEN h < 848272237658610688 THEN 1
           |         WHEN h < 1060340297073263360 THEN 2
           |         WHEN h < 1131029650211480960 THEN 3
           |         WHEN h < 1148701988496035328 THEN 4
           |         WHEN h < 1152236456152946176 THEN 5
           |         ELSE 6 END AS w
           |  FROM hh),
           |m AS (SELECT b, sum(w * cents) // sum(w) AS m FROM ww GROUP BY 1),
           |r AS (SELECT m, row_number() OVER (ORDER BY m, b) AS r FROM m),
           |p AS (SELECT count(*) AS n_orders, sum(cents) // count(*) AS mean_c FROM o)
           |SELECT CAST(n_orders AS BIGINT) AS n_orders,
           |  CAST(mean_c AS BIGINT) AS mean_c,
           |  CAST((SELECT m FROM r WHERE r = 2) AS BIGINT) AS boot_lo_c,
           |  CAST((SELECT m FROM r WHERE r = 31) AS BIGINT) AS boot_hi_c
           |FROM p""".stripMargin
      }),

    // Label-propagation communities — see ops/Basket.labelPropagation.
    // Oracle = the mechanical 3-round unroll (min-of-modes tie-break
    // replayed with a windowed row_number on identical (cnt DESC,
    // lbl) order).
    "graph_label_propagation" -> Q(
      (s, d) => graft.ops.Basket.labelPropagation(Tables.lineitem(s, d),
        rounds = 3, minSupport = 2, k = 20),
      Some {
        val base =
          """WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
            |e0 AS MATERIALIZED (SELECT a.pk AS pa, b.pk AS pb
            |      FROM op a JOIN op b ON b.ok = a.ok AND a.pk < b.pk
            |      GROUP BY 1, 2 HAVING count(*) >= 2),
            |e AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM e0
            |                   UNION ALL SELECT pb, pa FROM e0),
            |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e)""".stripMargin
        val rounds = (1 to 3).map { i =>
          s"""l$i AS MATERIALIZED (SELECT node, lbl FROM (
             |  SELECT node, lbl, row_number() OVER (PARTITION BY node
             |           ORDER BY cnt DESC, lbl) AS rn
             |  FROM (SELECT e.dst AS node, l.lbl, count(*) AS cnt
             |        FROM e JOIN l${i - 1} l ON l.node = e.src GROUP BY 1, 2))
             |  WHERE rn = 1)""".stripMargin
        }
        (Seq(base) ++ rounds).mkString(",\n") +
          """
            |SELECT CAST(lbl AS BIGINT) AS community, count(*) AS n_members
            |FROM l3 GROUP BY 1 ORDER BY n_members DESC, community LIMIT 20""".stripMargin
      }),

    // Repeat-payment audit — the fraud/data-entry screen every AP
    // system runs: pairs of orders from the SAME customer in the SAME
    // $100 amount band, histogrammed by time gap. The self-join keys
    // on (customer, amount band) — group sizes are bounded by
    // per-customer order counts, so the pair explosion is O(rows ·
    // ordersPerCustomer), never quadratic in the table; the gap
    // bucketing is exact integer day arithmetic.
    "quality_repeat_payments" -> Q(
      (s, d) => {
        val o = Tables.orders(s, d).select(col("o_orderkey").as("ok"),
          col("o_custkey").as("ck"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) div 10000").as("amt"),
          to_date(col("o_orderdate")).as("day"))
        val b = o.select(col("ok").as("ok2"), col("ck"), col("amt"),
          col("day").as("day2"))
        o.join(b, Seq("ck", "amt"))
          .filter(col("ok") < col("ok2"))
          .withColumn("gap", abs(datediff(col("day2"), col("day"))))
          .groupBy(when(col("gap") <= 90, "0-90")
            .when(col("gap") <= 365, "91-365").otherwise("365+").as("gap_bucket"))
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct("ck").as("n_customers"),
            sum(col("amt") * 100L).cast("long").as("amount_dollars"))
          .orderBy("gap_bucket")
      },
      Some(
        """WITH o AS (SELECT o_orderkey AS ok, o_custkey AS ck,
          |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // 10000 AS amt,
          |    CAST(o_orderdate AS DATE) AS day
          |  FROM orders),
          |p AS (SELECT a.ck, a.amt, abs(b.day - a.day) AS gap
          |      FROM o a JOIN o b ON b.ck = a.ck AND b.amt = a.amt AND a.ok < b.ok)
          |SELECT CASE WHEN gap <= 90 THEN '0-90'
          |            WHEN gap <= 365 THEN '91-365' ELSE '365+' END AS gap_bucket,
          |  count(*) AS n_pairs, count(DISTINCT ck) AS n_customers,
          |  CAST(sum(amt * 100) AS BIGINT) AS amount_dollars
          |FROM p GROUP BY 1 ORDER BY gap_bucket""".stripMargin)),

    // Gaps-and-islands: maximal consecutive-day activity streaks per
    // user, as a streak-length histogram — the engagement-streak panel.
    // The island key is the SQL-canon dayNumber − row_number trick, in
    // pure integers (days since epoch) so both engines agree; every
    // window partitions on the user.
    "window_gap_islands" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ud = Tables.events(s, d)
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        val w = Window.partitionBy("user_id").orderBy("day")
        ud.withColumn("dnum", datediff(col("day"), lit("1970-01-01")).cast("long"))
          .withColumn("rn", row_number().over(w))
          .withColumn("grp", col("dnum") - col("rn"))
          .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
          .groupBy(col("len").cast("long").as("streak_len"))
          .agg(count(lit(1)).as("n_streaks"),
            countDistinct("user_id").as("n_users"))
          .orderBy("streak_len")
      },
      Some(
        """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
          |rn AS (SELECT user_id, CAST(day - DATE '1970-01-01' AS BIGINT) AS dnum,
          |    row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn FROM ud),
          |isl AS (SELECT user_id, dnum - rn AS grp, count(*) AS len
          |        FROM rn GROUP BY 1, 2)
          |SELECT CAST(len AS BIGINT) AS streak_len, count(*) AS n_streaks,
          |  count(DISTINCT user_id) AS n_users
          |FROM isl GROUP BY 1 ORDER BY streak_len""".stripMargin)),

    // Day-of-week × hour traffic heatmap with the independence-model
    // deviation ratio (obs/expected ×1e6, expected = rowTotal·colTotal/n
    // — the chi-square grid's readout form): the dashboard that shows
    // WHEN the load concentrates. The dow comes from pure epoch-day
    // arithmetic ((days+4) mod 7, 0=Sunday) — date_format/dayofweek
    // conventions differ between engines, integers don't. One corpus
    // scan to the 168-cell grid; marginals join back broadcast.
    "events_dow_hour_heatmap" -> Q(
      (s, d) => {
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        // the 168-row cell grid feeds FOUR consumers (cells + three
        // marginals): checkpoint it so the corpus scans once, not per
        // consumer
        val cell = Tables.events(s, d)
          .select(((datediff(to_date(col("ts")), lit("1970-01-01")) + 4) % 7)
              .cast("long").as("dow"),
            hour(col("ts")).cast("long").as("hr"))
          .groupBy("dow", "hr").agg(count(lit(1)).as("n"))
          .localCheckpoint(true)
        val rt = cell.groupBy("dow").agg(sum("n").as("rt"))
        val ct = cell.groupBy("hr").agg(sum("n").as("ct"))
        val tot = cell.agg(sum("n").as("t"))
        cell.join(broadcast(rt), "dow").join(broadcast(ct), "hr")
          .crossJoin(broadcast(tot))
          .select(col("dow"), col("hr"), col("n").cast("long").as("n"),
            graft.functions.GraftFunctions.longDiv(
              dec(col("n")) * dec(col("t")) * dec(lit(1000000L)),
              dec(col("rt")) * dec(col("ct"))).cast("long").as("ratio_x1e6"))
          .orderBy("dow", "hr")
      },
      Some(
        """WITH e AS (SELECT
          |    (CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) + 4) % 7 AS dow,
          |    CAST(hour(ts) AS BIGINT) AS hr FROM events),
          |cell AS (SELECT dow, hr, count(*) AS n FROM e GROUP BY 1, 2),
          |rt AS (SELECT dow, CAST(sum(n) AS BIGINT) AS rt FROM cell GROUP BY 1),
          |ct AS (SELECT hr, CAST(sum(n) AS BIGINT) AS ct FROM cell GROUP BY 1),
          |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM cell)
          |SELECT dow, hr, CAST(n AS BIGINT) AS n,
          |  CAST(CAST(n AS HUGEINT) * t * 1000000
          |    // (CAST(rt AS HUGEINT) * ct) AS BIGINT) AS ratio_x1e6
          |FROM cell JOIN rt USING (dow) JOIN ct USING (hr) CROSS JOIN tot
          |ORDER BY dow, hr""".stripMargin)),

    // Herfindahl–Hirschman supplier-concentration index per nation:
    // HHI = Σ (supplier revenue share)², the antitrust/market-power
    // statistic ×1e6 in EXACT integers — Σrev² and (Σrev)² cross-
    // multiplied in DECIMAL(38,0), one integral division per nation.
    // The corpus collapses per supplier first (one shuffle on the
    // supplier key); the supplier→nation attach broadcasts.
    "stats_hhi_suppliers" -> Q(
      (s, d) => {
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        val sr = Tables.lineitem(s, d)
          .groupBy(col("l_suppkey").as("sk"))
          .agg(sum(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
            .cast("long").as("rev"))
        val sn = sr
          .join(broadcast(Tables.supplier(s, d)
            .select(col("s_suppkey").as("sk"), col("s_nationkey"))), "sk")
          .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey").as("s_nationkey"), col("n_name"))),
            "s_nationkey")
        sn.groupBy(col("n_name").as("nation"))
          .agg(count(lit(1)).as("n_suppliers"),
            graft.functions.GraftFunctions.longDiv(
              sum(dec(col("rev")) * dec(col("rev"))) * dec(lit(1000000L)),
              dec(sum("rev")) * dec(sum("rev"))).cast("long").as("hhi_x1e6"))
          .orderBy("nation")
      },
      Some(
        """WITH sr AS (SELECT l_suppkey AS sk,
          |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
          |  FROM lineitem GROUP BY 1),
          |sn AS (SELECT sk, rev, n_name FROM sr
          |       JOIN supplier ON s_suppkey = sk
          |       JOIN nation ON n_nationkey = s_nationkey)
          |SELECT n_name AS nation, count(*) AS n_suppliers,
          |  CAST(sum(CAST(rev AS HUGEINT) * rev) * 1000000
          |    // (CAST(sum(rev) AS HUGEINT) * sum(rev)) AS BIGINT) AS hhi_x1e6
          |FROM sn GROUP BY 1 ORDER BY nation""".stripMargin)),

    // Per-label embedding centroid drift between the even/odd vector
    // halves (the "old batch vs new batch" monitor an embedding
    // pipeline runs after each re-encode): squared L2 distance between
    // half-centroids in EXACT rational arithmetic — per dim the
    // difference s₁/n₁ − s₂/n₂ cross-multiplies to (s₁n₂ − s₂n₁), its
    // square sums in DECIMAL(38,0), one integral division by (n₁n₂)²
    // at the end. Components enter as floor(x·10⁶) integers (the
    // emb_dim_stats discipline); one explode, one (label, dim)
    // aggregation, everything after runs on the labels×64 frame.
    "emb_centroid_drift" -> Q(
      (s, d) => {
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        val q = Tables.embeddings(s, d)
          .select(col("label"), (col("vec_id") % 2 === 0).as("ha"),
            posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
          .withColumn("q", floor(col("x") * 1000000).cast("long"))
        val cell = q.groupBy("label", "dim")
          .agg(sum(when(col("ha"), col("q"))).as("s1"),
            sum(when(col("ha"), 1L).otherwise(0L)).as("n1"),
            sum(when(!col("ha"), col("q"))).as("s2"),
            sum(when(!col("ha"), 1L).otherwise(0L)).as("n2"))
        cell.groupBy(col("label").cast("long").as("label"))
          .agg(max("n1").cast("long").as("n_even"),
            max("n2").cast("long").as("n_odd"),
            graft.functions.GraftFunctions.longDiv(
              sum((dec(col("s1")) * dec(col("n2")) - dec(col("s2")) * dec(col("n1"))) *
                (dec(col("s1")) * dec(col("n2")) - dec(col("s2")) * dec(col("n1")))),
              dec(max("n1")) * dec(max("n2")) * dec(max("n1")) * dec(max("n2")))
              .cast("long").as("drift_l2sq_q"))
          .orderBy("label")
      },
      Some(
        """WITH v AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS e
          |           FROM embeddings),
          |q AS (SELECT label, vec_id % 2 = 0 AS ha, g.i - 1 AS dim,
          |    CAST(floor(e[g.i] * 1000000) AS BIGINT) AS q
          |  FROM v CROSS JOIN LATERAL
          |    (SELECT unnest(generate_series(1, len(e))) AS i) g),
          |cell AS (SELECT label, dim,
          |    CAST(sum(CASE WHEN ha THEN q END) AS HUGEINT) AS s1,
          |    CAST(sum(CASE WHEN ha THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
          |    CAST(sum(CASE WHEN NOT ha THEN q END) AS HUGEINT) AS s2,
          |    CAST(sum(CASE WHEN NOT ha THEN 1 ELSE 0 END) AS HUGEINT) AS n2
          |  FROM q GROUP BY 1, 2)
          |SELECT CAST(label AS BIGINT) AS label,
          |  CAST(max(n1) AS BIGINT) AS n_even, CAST(max(n2) AS BIGINT) AS n_odd,
          |  CAST(sum((s1 * n2 - s2 * n1) * (s1 * n2 - s2 * n1))
          |    // (max(n1) * max(n2) * max(n1) * max(n2)) AS BIGINT) AS drift_l2sq_q
          |FROM cell GROUP BY label ORDER BY label""".stripMargin)),

    // Point-in-time customer feature snapshot — the feature-store
    // primitive: every feature computed AS OF a cutoff (90 days before
    // corpus end), using only orders on or before it, so training
    // never leaks the future. One customer-key collapse with
    // conditional sums for the trailing-90d window; the cutoff is a
    // 1-row broadcast. Top-20 by trailing revenue keeps the readout
    // bounded; the full frame is the same plan minus the limit.
    "features_customer_snapshot" -> Q(
      (s, d) => {
        val o = Tables.orders(s, d).select(col("o_custkey").as("ck"),
          to_date(col("o_orderdate")).as("day"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
        val cut = o.agg(date_sub(max("day"), 90).as("cutoff"))
        o.crossJoin(broadcast(cut))
          .filter(col("day") <= col("cutoff"))
          .groupBy("ck")
          .agg(max("cutoff").as("cutoff"),
            count(lit(1)).as("n_orders"),
            sum(when(col("day") > date_sub(col("cutoff"), 90), 1L).otherwise(0L))
              .as("orders_90d"),
            coalesce(sum(when(col("day") > date_sub(col("cutoff"), 90),
              col("cents"))), lit(0L)).as("rev_90d_c"),
            datediff(max("cutoff"), max("day")).as("recency_days"),
            datediff(max("cutoff"), min("day")).as("tenure_days"))
          .select(col("ck").cast("long").as("custkey"),
            col("n_orders").cast("long").as("n_orders"),
            col("orders_90d").cast("long").as("orders_90d"),
            col("rev_90d_c").cast("long").as("rev_90d_c"),
            col("recency_days").cast("long").as("recency_days"),
            col("tenure_days").cast("long").as("tenure_days"))
          .orderBy(desc("rev_90d_c"), asc("custkey")).limit(20)
      },
      Some(
        """WITH o AS (SELECT o_custkey AS ck, CAST(o_orderdate AS DATE) AS day,
          |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders),
          |cut AS (SELECT max(day) - 90 AS cutoff FROM o),
          |f AS (SELECT ck,
          |    count(*) AS n_orders,
          |    sum(CASE WHEN day > cutoff - 90 THEN 1 ELSE 0 END) AS orders_90d,
          |    coalesce(sum(CASE WHEN day > cutoff - 90 THEN cents END), 0) AS rev_90d_c,
          |    CAST(max(cutoff) - max(day) AS BIGINT) AS recency_days,
          |    CAST(max(cutoff) - min(day) AS BIGINT) AS tenure_days
          |  FROM o CROSS JOIN cut WHERE day <= cutoff GROUP BY ck)
          |SELECT CAST(ck AS BIGINT) AS custkey, CAST(n_orders AS BIGINT) AS n_orders,
          |  CAST(orders_90d AS BIGINT) AS orders_90d,
          |  CAST(rev_90d_c AS BIGINT) AS rev_90d_c, recency_days, tenure_days
          |FROM f ORDER BY rev_90d_c DESC, custkey LIMIT 20""".stripMargin)),

    // Dedup survivorship audit: did min-id canonical selection keep
    // the BEST copy? Per near-dup cluster (the dedup_clusters
    // machinery), compare the canonical member's length against the
    // cluster max — the report that motivates quality-ranked
    // survivorship rules over arbitrary (min-id) ones. One readout
    // row; the oracle nests the full cluster unroll as a subselect
    // (the pipelineClusterKeep discipline — the two oracles cannot
    // drift).
    "pipeline_cluster_audit" -> Q(
      (s, d) => {
        val docs = plantedDocs(s, d, exact = false)
        val lbl = graft.ops.Dedup.duplicateClusters(
          graft.ops.Dedup.minhashPairs(docs, k = 8, bands = 4))
        val len = docs.select(col("doc_id"), length(col("text")).cast("long").as("len"))
        val cl = lbl.join(len, "doc_id")
          .groupBy("canonical_id")
          .agg(count(lit(1)).as("sz"), max("len").as("max_len"),
            max(when(col("doc_id") === col("canonical_id"), col("len")))
              .as("canon_len"),
            sum(when(col("doc_id") =!= col("canonical_id"), col("len")))
              .as("drop_len"),
            sum(when(col("doc_id") =!= col("canonical_id"), 1L).otherwise(0L))
              .as("n_drop"))
          .filter(col("sz") >= 2)
        cl.agg(count(lit(1)).cast("long").as("n_clusters"),
          sum(when(col("canon_len") === col("max_len"), 1L).otherwise(0L))
            .cast("long").as("n_canonical_longest"),
          expr("sum(canon_len) div count(*)").cast("long").as("mean_kept_chars"),
          expr("sum(drop_len) div sum(n_drop)").cast("long").as("mean_dropped_chars"))
      },
      Some(
        s"""WITH lbl AS MATERIALIZED (SELECT * FROM (${TextSql.dedupClusters()})),
           |${TextSql.plantCteRenamed("docs2")},
           |m AS (SELECT l.doc_id, l.canonical_id, length(d.text) AS len
           |      FROM lbl l JOIN docs2 d USING (doc_id)),
           |cl AS (SELECT canonical_id, count(*) AS sz, max(len) AS max_len,
           |    max(CASE WHEN doc_id = canonical_id THEN len END) AS canon_len,
           |    sum(CASE WHEN doc_id <> canonical_id THEN len END) AS drop_len,
           |    sum(CASE WHEN doc_id <> canonical_id THEN 1 ELSE 0 END) AS n_drop
           |  FROM m GROUP BY 1 HAVING count(*) >= 2)
           |SELECT count(*) AS n_clusters,
           |  CAST(sum(CASE WHEN canon_len = max_len THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_canonical_longest,
           |  CAST(sum(canon_len) // count(*) AS BIGINT) AS mean_kept_chars,
           |  CAST(sum(drop_len) // sum(n_drop) AS BIGINT) AS mean_dropped_chars
           |FROM cl""".stripMargin)),

    // Fulfillment SLA compliance per order priority: share of orders
    // whose FIRST line shipped within 30 days. One keyed fact–fact
    // join (order grain collapse with map-side combine), then the
    // priority rollup; rate ×1e6 exact.
    "orders_sla_compliance" -> Q(
      (s, d) => {
        val f = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderpriority"),
            to_date(col("o_orderdate")).as("od"))
          .join(Tables.lineitem(s, d)
            .select(col("l_orderkey").as("o_orderkey"),
              to_date(col("l_shipdate")).as("sd")), "o_orderkey")
          .groupBy("o_orderkey", "o_orderpriority")
          .agg(datediff(min("sd"), min("od")).cast("long").as("lag_days"))
        f.groupBy(col("o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(when(col("lag_days") <= 30, 1L).otherwise(0L)).cast("long")
              .as("n_on_time"),
            expr("sum(CASE WHEN lag_days <= 30 THEN 1 ELSE 0 END) * 1000000L div count(*)")
              .cast("long").as("on_time_x1e6"))
          .orderBy("priority")
      },
      Some(
        """WITH f AS (SELECT o_orderkey, o_orderpriority,
          |    CAST(min(CAST(l_shipdate AS DATE)) - CAST(min(o_orderdate) AS DATE) AS BIGINT)
          |      AS lag_days
          |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
          |  GROUP BY 1, 2)
          |SELECT o_orderpriority AS priority, count(*) AS n_orders,
          |  CAST(sum(CASE WHEN lag_days <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_on_time,
          |  CAST(sum(CASE WHEN lag_days <= 30 THEN 1 ELSE 0 END) * 1000000 // count(*)
          |    AS BIGINT) AS on_time_x1e6
          |FROM f GROUP BY 1 ORDER BY priority""".stripMargin)),

    // Maximum drawdown of the daily revenue series — the risk metric
    // read off any cumulative-performance dashboard: running peak via
    // a window over the SPAN-BOUNDED day frame (the corpus collapses
    // to one row per day first), drawdown = peak − value, worst day
    // reported with an exact ×1e6 relative depth. First-occurrence
    // tie-break (draw DESC, day ASC) pins determinism.
    "stats_max_drawdown" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val day = Tables.orders(s, d)
          .groupBy(to_date(col("o_orderdate")).as("d"))
          .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
            .cast("long").as("rev"))
        val w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding,
          Window.currentRow)
        day.withColumn("peak", max("rev").over(w))
          .withColumn("draw", col("peak") - col("rev"))
          .select(date_format(col("d"), "yyyy-MM-dd").as("trough_day"),
            col("peak").cast("long").as("peak_c"),
            col("rev").cast("long").as("trough_c"),
            col("draw").cast("long").as("drawdown_c"),
            graft.functions.GraftFunctions.longDiv(
              col("draw").cast("decimal(38,0)") * lit(1000000L).cast("decimal(38,0)"),
              col("peak").cast("decimal(38,0)")).cast("long").as("drawdown_x1e6"))
          .orderBy(desc("drawdown_c"), asc("trough_day")).limit(1)
      },
      Some(
        """WITH day AS (SELECT CAST(o_orderdate AS DATE) AS d,
          |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
          |  FROM orders GROUP BY 1),
          |r AS (SELECT d, rev, max(rev) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
          |        PRECEDING AND CURRENT ROW) AS peak FROM day),
          |dd AS (SELECT d, rev, peak, peak - rev AS draw FROM r)
          |SELECT strftime(d, '%Y-%m-%d') AS trough_day, CAST(peak AS BIGINT) AS peak_c,
          |  CAST(rev AS BIGINT) AS trough_c, CAST(draw AS BIGINT) AS drawdown_c,
          |  CAST(CAST(draw AS HUGEINT) * 1000000 // peak AS BIGINT) AS drawdown_x1e6
          |FROM dd ORDER BY draw DESC, d LIMIT 1""".stripMargin)),

    // Local bridges of the support-pruned co-order graph: edges whose
    // endpoints share NO common neighbor — removing one disconnects
    // its endpoints locally (Granovetter's weak ties). The closed-pair
    // frame comes from the wedge join (the clusteringCoeff Σdeg²
    // bound); bridge status is ONE left probe with a conditional agg
    // (the referential-integrity shape — no anti-join + scalar cross).
    "graph_local_bridges" -> Q(
      (s, d) => {
        val e0 = graft.ops.Basket.coOrderEdges(Tables.lineitem(s, d), minSupport = 2)
          .select("pa", "pb").localCheckpoint(true)
        val adj = e0.unionByName(
          e0.select(col("pb").as("pa"), col("pa").as("pb")))
        val closed = adj.as("w1")
          .join(adj.as("w2"), col("w1.pb") === col("w2.pa"))
          .filter(col("w1.pa") < col("w2.pb"))
          .select(col("w1.pa").as("pa"), col("w2.pb").as("pb")).distinct()
          .withColumn("hit", lit(1))
        e0.join(closed, Seq("pa", "pb"), "left")
          .agg(count(lit(1)).cast("long").as("n_edges"),
            sum(when(col("hit").isNull, 1L).otherwise(0L)).cast("long")
              .as("n_bridges"),
            expr("sum(CASE WHEN hit IS NULL THEN 1 ELSE 0 END) * 1000000L div count(*)")
              .cast("long").as("bridge_x1e6"))
      },
      Some(
        """WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
          |e0 AS MATERIALIZED (SELECT a.pk AS pa, b.pk AS pb
          |      FROM op a JOIN op b ON b.ok = a.ok AND a.pk < b.pk
          |      GROUP BY 1, 2 HAVING count(*) >= 2),
          |adj AS MATERIALIZED (SELECT pa AS a, pb AS b FROM e0
          |                     UNION ALL SELECT pb, pa FROM e0),
          |closed AS (SELECT DISTINCT w1.a AS pa, w2.b AS pb
          |           FROM adj w1 JOIN adj w2 ON w2.a = w1.b
          |           WHERE w1.a < w2.b),
          |cl AS (SELECT e0.pa, e0.pb,
          |         EXISTS (SELECT 1 FROM closed c
          |                 WHERE c.pa = e0.pa AND c.pb = e0.pb) AS has_cn
          |       FROM e0)
          |SELECT count(*) AS n_edges,
          |  CAST(sum(CASE WHEN has_cn THEN 0 ELSE 1 END) AS BIGINT) AS n_bridges,
          |  CAST(sum(CASE WHEN has_cn THEN 0 ELSE 1 END) * 1000000 // count(*)
          |    AS BIGINT) AS bridge_x1e6
          |FROM cl""".stripMargin)),

    // Inter-arrival-time distribution per event type — the
    // point-process diagnostic behind rate limiting and session-gap
    // tuning: per-user consecutive gaps (user-partitioned window, ties
    // broken on event_id), bucketed by FIXED integer thresholds
    // (<1m/<10m/<1h/<6h/<1d/≥1d — no float log in the gate). Type is
    // the LATER event's.
    "events_inter_arrival" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Tables.events(s, d)
          .withColumn("gap_s", expr(
            "(unix_micros(ts) - unix_micros(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) div 1000000"))
          .filter(col("gap_s").isNotNull)
          .groupBy(col("event_type"),
            when(col("gap_s") < 60, "0_lt_1m").when(col("gap_s") < 600, "1_lt_10m")
              .when(col("gap_s") < 3600, "2_lt_1h")
              .when(col("gap_s") < 21600, "3_lt_6h")
              .when(col("gap_s") < 86400, "4_lt_1d").otherwise("5_ge_1d")
              .as("bucket"))
          .agg(count(lit(1)).as("n"))
          .orderBy("event_type", "bucket")
      },
      Some(
        """WITH g AS (SELECT event_type,
          |    CAST(epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
          |      ORDER BY ts, event_id)) AS BIGINT) // 1000000 AS gap_s
          |  FROM events),
          |b AS (SELECT event_type,
          |    CASE WHEN gap_s < 60 THEN '0_lt_1m' WHEN gap_s < 600 THEN '1_lt_10m'
          |         WHEN gap_s < 3600 THEN '2_lt_1h' WHEN gap_s < 21600 THEN '3_lt_6h'
          |         WHEN gap_s < 86400 THEN '4_lt_1d' ELSE '5_ge_1d' END AS bucket
          |  FROM g WHERE gap_s IS NOT NULL)
          |SELECT event_type, bucket, count(*) AS n
          |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Embedding-quality AUC: cosine similarity as a same-label
    // classifier over a DETERMINISTIC pair sample (offsets +1/+7/+41
    // on the vector id — linear pair volume, keyed joins), scored by
    // the exact Mann–Whitney rank statistic. Ranking is strict
    // (cos, pair-key) order — midrank tie handling would need float
    // averaging; with 6-dp cosines ties are rare and the strict rank
    // is engine-invariant. Ranks from the two-phase bucketedRank (no
    // corpus-sized window; scores shift +1e6 so range bucketing stays
    // order-preserving across negatives).
    "emb_cosine_auc" -> Q(
      (s, d) => {
        val v = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"),
            col("embedding").cast("array<double>").as("e"))
        val offs = v.select(col("vec_id").as("ia"), col("label").as("la"),
            col("e").as("ea"), explode(expr("array(1L, 7L, 41L)")).as("off"))
          .withColumn("ib", col("ia") + col("off"))
        val pairs = offs.join(v.select(col("vec_id").as("ib"),
            col("label").as("lb"), col("e").as("eb")), "ib")
          .withColumn("c6", floor(round(graft.ops.Similarity.cosine(
            col("ea"), col("eb")), 6) * 1000000).cast("long"))
          .select((col("la") === col("lb")).as("same"),
            (col("c6") + 1000000L).as("c6s"),
            (col("ia") * 100L + col("off")).as("tk"))
        val ranked = graft.ops.Stats.bucketedRank(pairs, "c6s", "tk",
          bucketWidth = 4096L)
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        ranked.agg(count(lit(1)).as("n"),
            sum(when(col("same"), 1L).otherwise(0L)).as("np"),
            sum(when(col("same"), col("rank"))).as("u"))
          .select(col("n").cast("long").as("n_pairs"),
            col("np").cast("long").as("n_same"),
            (col("n") - col("np")).cast("long").as("n_diff"),
            // (u − np(np+1)/2)/(np·nn) doubled on both sides keeps the
            // arithmetic division-free until the one integral divide
            graft.functions.GraftFunctions.longDiv(
              (dec(lit(2L)) * dec(col("u")) -
                dec(col("np")) * (dec(col("np")) + dec(lit(1L)))) * dec(lit(1000000L)),
              dec(lit(2L)) * dec(col("np")) * (dec(col("n")) - dec(col("np"))))
              .cast("long").as("auc_x1e6"))
      },
      Some(
        """WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
          |           FROM embeddings),
          |p AS (SELECT a.vec_id AS ia, o.off, a.label = b.label AS same,
          |    CAST(floor(round(list_dot_product(a.e, b.e)
          |      / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6)
          |      * 1000000) AS BIGINT) AS c6
          |  FROM v a
          |  CROSS JOIN (SELECT unnest([1, 7, 41]) AS off) o
          |  JOIN v b ON b.vec_id = a.vec_id + o.off),
          |r AS (SELECT same, row_number() OVER (ORDER BY c6, ia * 100 + off) AS rnk
          |      FROM p),
          |s AS (SELECT CAST(count(*) AS HUGEINT) AS np, CAST(sum(rnk) AS HUGEINT) AS u
          |      FROM r WHERE same),
          |t AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM r)
          |SELECT CAST(n AS BIGINT) AS n_pairs, CAST(np AS BIGINT) AS n_same,
          |  CAST(n - np AS BIGINT) AS n_diff,
          |  CAST((u - np * (np + 1) // 2) * 1000000 // (np * (n - np)) AS BIGINT)
          |    AS auc_x1e6
          |FROM s CROSS JOIN t""".stripMargin)),

    // Day-over-day top revenue movers per nation — the anomaly feed of
    // every revenue dashboard. Change ratio is SIGN-FACTORED
    // (±|Δ|·1e6 div prev): DuckDB's // floors while Spark's div
    // truncates, so signed division would drift by one on every
    // negative change (the round-6 integral-division guard). Windows
    // partition per nation over its day frame.
    "date_top_movers" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val nd = Tables.orders(s, d)
          .join(Tables.customer(s, d).select(col("c_custkey").as("o_custkey"),
            col("c_nationkey")), "o_custkey")
          .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey").as("c_nationkey"), col("n_name"))),
            "c_nationkey")
          .groupBy(col("n_name"), to_date(col("o_orderdate")).as("d"))
          .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
            .cast("long").as("rev"))
        val w = Window.partitionBy("n_name").orderBy("d")
        nd.withColumn("prev", lag("rev", 1).over(w))
          .filter(col("prev").isNotNull)
          .withColumn("change_x1e6",
            when(col("rev") >= col("prev"),
              expr("(rev - prev) * 1000000L div prev"))
              .otherwise(-expr("(prev - rev) * 1000000L div prev")).cast("long"))
          .select(col("n_name").as("nation"),
            date_format(col("d"), "yyyy-MM-dd").as("day"),
            col("rev").cast("long").as("rev_c"),
            col("prev").cast("long").as("prev_c"), col("change_x1e6"))
          .orderBy(abs(col("change_x1e6")).desc, col("nation"), col("day"))
          .limit(10)
      },
      Some(
        """WITH nd AS (SELECT n_name, CAST(o_orderdate AS DATE) AS d,
          |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
          |  FROM orders JOIN customer ON c_custkey = o_custkey
          |  JOIN nation ON n_nationkey = c_nationkey
          |  GROUP BY 1, 2),
          |l AS (SELECT n_name, d, rev,
          |    lag(rev) OVER (PARTITION BY n_name ORDER BY d) AS prev FROM nd),
          |c AS (SELECT n_name, d, rev, prev,
          |    CAST(CASE WHEN rev >= prev THEN (rev - prev) * 1000000 // prev
          |         ELSE -((prev - rev) * 1000000 // prev) END AS BIGINT) AS change_x1e6
          |  FROM l WHERE prev IS NOT NULL)
          |SELECT n_name AS nation, strftime(d, '%Y-%m-%d') AS day,
          |  CAST(rev AS BIGINT) AS rev_c, CAST(prev AS BIGINT) AS prev_c, change_x1e6
          |FROM c ORDER BY abs(change_x1e6) DESC, nation, day LIMIT 10""".stripMargin)),

    // Exact median and mode per event type — the order statistics the
    // reference's COUNT-only aggregate surface lacked entirely. Both
    // come from the per-type distinct-VALUE frame (the KS discipline:
    // the value domain is bounded, so the cumulative window runs over
    // ≤10k rows per type, never the corpus): lower median = first
    // value with 2·cum ≥ n+1 in pure integers, mode = (count DESC,
    // value) head.
    "agg_median_mode" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val dc = Tables.events(s, d)
          .select(col("event_type"),
            expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("c"))
          .groupBy("event_type", "c").agg(count(lit(1)).as("cnt"))
          .localCheckpoint(true)
        val tot = dc.groupBy("event_type").agg(sum("cnt").as("n"))
        val cum = dc.withColumn("cum",
          sum("cnt").over(Window.partitionBy("event_type").orderBy("c")))
        val med = cum.join(broadcast(tot), "event_type")
          .filter(col("cum") * 2 >= col("n") + 1)
          .groupBy("event_type").agg(min("c").as("median_c"))
        val mode = dc.withColumn("rn", row_number().over(
            Window.partitionBy("event_type").orderBy(desc("cnt"), asc("c"))))
          .filter(col("rn") === 1)
          .select(col("event_type"), col("c").as("mode_c"), col("cnt").as("mode_n"))
        tot.join(broadcast(med), "event_type").join(broadcast(mode), "event_type")
          .select(col("event_type"), col("n").cast("long").as("n"),
            col("median_c").cast("long").as("median_c"),
            col("mode_c").cast("long").as("mode_c"),
            col("mode_n").cast("long").as("mode_n"))
          .orderBy("event_type")
      },
      Some(
        """WITH v AS (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
          |  FROM events),
          |dc AS (SELECT event_type, c, count(*) AS cnt FROM v GROUP BY 1, 2),
          |tot AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n FROM dc GROUP BY 1),
          |cum AS (SELECT event_type, c, cnt,
          |    sum(cnt) OVER (PARTITION BY event_type ORDER BY c) AS cum
          |  FROM dc),
          |med AS (SELECT event_type, min(c) AS median_c
          |        FROM cum JOIN tot USING (event_type)
          |        WHERE cum * 2 >= n + 1 GROUP BY 1),
          |mode AS (SELECT event_type, c AS mode_c, cnt AS mode_n FROM (
          |    SELECT event_type, c, cnt,
          |      row_number() OVER (PARTITION BY event_type ORDER BY cnt DESC, c) AS rn
          |    FROM dc) WHERE rn = 1)
          |SELECT event_type, n, median_c, mode_c, CAST(mode_n AS BIGINT) AS mode_n
          |FROM tot JOIN med USING (event_type) JOIN mode USING (event_type)
          |ORDER BY event_type""".stripMargin)),

    // Calendar-month seasonality index of order revenue: per-month
    // average order value vs the overall average, cross-multiplied
    // into one exact integral division — the 12-row deseasonalization
    // table every forecast pipeline starts from.
    "date_seasonality_index" -> Q(
      (s, d) => {
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        val m = Tables.orders(s, d)
          .groupBy(month(col("o_orderdate")).cast("long").as("mo"))
          .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")).as("s"),
            count(lit(1)).as("c"))
        val t = m.agg(sum("s").as("st"), sum("c").as("ct"))
        m.crossJoin(broadcast(t))
          .select(col("mo"), col("c").cast("long").as("n_orders"),
            graft.functions.GraftFunctions.longDiv(
              dec(col("s")) * dec(col("ct")) * dec(lit(1000000L)),
              dec(col("c")) * dec(col("st"))).cast("long").as("index_x1e6"))
          .orderBy("mo")
      },
      Some(
        """WITH m AS (SELECT CAST(month(o_orderdate) AS BIGINT) AS mo,
          |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s,
          |    count(*) AS c
          |  FROM orders GROUP BY 1),
          |t AS (SELECT CAST(sum(s) AS HUGEINT) AS st, CAST(sum(c) AS HUGEINT) AS ct FROM m)
          |SELECT mo, CAST(c AS BIGINT) AS n_orders,
          |  CAST(CAST(s AS HUGEINT) * ct * 1000000 // (CAST(c AS HUGEINT) * st)
          |    AS BIGINT) AS index_x1e6
          |FROM m CROSS JOIN t ORDER BY mo""".stripMargin)),

    // Flesch reading-ease per source (×1e3 fixed point): words and
    // vowel-group syllable proxies from regexp_extract_all counts,
    // sentences from terminal-punctuation runs — the classic
    // 206.835 − 1.015·(W/S) − 84.6·(Y/W) with each ratio term
    // TRUNCATED to an integer before the sum (documented quantization;
    // both engines truncate identically on non-negative operands). One
    // codegen scan; the readability member of the text-QA suite.
    "text_readability_flesch" -> Q(
      (s, d) => Tables.documents(s, d)
        .select(col("source"),
          greatest(expr(
            "CAST(size(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS BIGINT)"),
            lit(1L)).as("w"),
          greatest(expr(
            "CAST(size(regexp_extract_all(text, '[.!?]+', 0)) AS BIGINT)"),
            lit(1L)).as("sn"),
          greatest(expr(
            "CAST(size(regexp_extract_all(lower(text), '[aeiouy]+', 0)) AS BIGINT)"),
            lit(1L)).as("y"))
        .withColumn("fx", lit(206835L) - expr("(1015L * w) div sn") -
          expr("(84600L * y) div w"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          // sign-factored mean: fx can go negative on vowel-heavy text
          // and floor (DuckDB //) vs truncate (Spark div) differ there
          when(sum("fx") >= 0, expr("sum(fx) div count(*)"))
            .otherwise(-expr("(-sum(fx)) div count(*)"))
            .cast("long").as("mean_flesch_x1e3"))
        .orderBy("source"),
      Some(
        """WITH f AS (SELECT source,
          |    greatest(CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT), 1) AS w,
          |    greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1) AS sn,
          |    greatest(CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT), 1) AS y
          |  FROM documents),
          |sc AS (SELECT source,
          |    206835 - (1015 * w) // sn - (84600 * y) // w AS fx
          |  FROM f)
          |SELECT source, count(*) AS n_docs,
          |  CAST(CASE WHEN sum(fx) >= 0 THEN sum(fx) // count(*)
          |       ELSE -((-sum(fx)) // count(*)) END AS BIGINT) AS mean_flesch_x1e3
          |FROM sc GROUP BY 1 ORDER BY source""".stripMargin)),

    // Gopher-style quality-filter rule table (Rae et al. 2112.11446
    // §A1.1): per rule, how many docs it would remove — word-count
    // bounds, mean-word-length bounds, alphanumeric-symbol ratio,
    // stopword coverage — plus the pass-all row. Every predicate is an
    // exact integer cross-multiplication; ONE codegen scan computes all
    // five counters (conditional sums), unpivoted with stack() on the
    // 1-row aggregate — never a pass per rule.
    "pipeline_gopher_rules" -> Q(
      (s, d) => {
        val f = Tables.documents(s, d).select(
          expr("CAST(size(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS BIGINT)").as("w"),
          expr("CAST(size(regexp_extract_all(lower(text), '[a-z0-9]', 0)) AS BIGINT)").as("alnum"),
          expr("CAST(length(text) AS BIGINT)").as("chars"),
          expr("CAST(size(regexp_extract_all(lower(text), '\\\\b(the|and|of|to|a|in|is|that|it|for)\\\\b', 0)) AS BIGINT)").as("sw"))
        val r = f.select(
          (col("w") < 50 || col("w") > 100000).as("r1"),
          (col("w") === 0 || col("chars") * 10 < col("w") * 30 ||
            col("chars") * 10 > col("w") * 100).as("r2"),
          (col("alnum") * 10 < col("chars") * 7).as("r3"),
          (col("sw") * 100 < col("w") * 2).as("r4"))
        r.agg(sum(when(col("r1"), 1L).otherwise(0L)).as("c1"),
            sum(when(col("r2"), 1L).otherwise(0L)).as("c2"),
            sum(when(col("r3"), 1L).otherwise(0L)).as("c3"),
            sum(when(col("r4"), 1L).otherwise(0L)).as("c4"),
            sum(when(!(col("r1") || col("r2") || col("r3") || col("r4")), 1L)
              .otherwise(0L)).as("c5"))
          .select(expr(
            """stack(5, '1_word_count', c1, '2_mean_word_len', c2,
              |'3_symbol_ratio', c3, '4_stopword_ratio', c4,
              |'5_pass_all', c5) AS (rule, n_violations)""".stripMargin))
          .select(col("rule"), col("n_violations").cast("long").as("n_violations"))
          .orderBy("rule")
      },
      Some(
        """WITH f AS (SELECT doc_id,
          |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS w,
          |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]')) AS BIGINT) AS alnum,
          |    CAST(length(text) AS BIGINT) AS chars,
          |    CAST(len(regexp_extract_all(lower(text),
          |      '\b(the|and|of|to|a|in|is|that|it|for)\b')) AS BIGINT) AS sw
          |  FROM documents),
          |r AS (SELECT doc_id,
          |    w < 50 OR w > 100000 AS r1,
          |    w = 0 OR (chars * 10 < w * 30) OR (chars * 10 > w * 100) AS r2,
          |    alnum * 10 < chars * 7 AS r3,
          |    sw * 100 < w * 2 AS r4
          |  FROM f)
          |SELECT * FROM (
          |  SELECT '1_word_count' AS rule,
          |    CAST(sum(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations FROM r
          |  UNION ALL SELECT '2_mean_word_len',
          |    CAST(sum(CASE WHEN r2 THEN 1 ELSE 0 END) AS BIGINT) FROM r
          |  UNION ALL SELECT '3_symbol_ratio',
          |    CAST(sum(CASE WHEN r3 THEN 1 ELSE 0 END) AS BIGINT) FROM r
          |  UNION ALL SELECT '4_stopword_ratio',
          |    CAST(sum(CASE WHEN r4 THEN 1 ELSE 0 END) AS BIGINT) FROM r
          |  UNION ALL SELECT '5_pass_all',
          |    CAST(sum(CASE WHEN NOT (r1 OR r2 OR r3 OR r4) THEN 1 ELSE 0 END)
          |      AS BIGINT) FROM r)
          |ORDER BY rule""".stripMargin)),

    // Fano factor (variance-to-mean ratio) of hourly volume per event
    // type — the burstiness scalar: 1 = Poisson, <1 regular, >1 bursty.
    // Exact: Fano·1e6 = (n·Σx² − (Σx)²)·1e6 div (n·Σx), all integer.
    // Complements the runs test (sign sequence) with a magnitude view.
    "stats_fano_factor" -> Q(
      (s, d) => {
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        Tables.events(s, d)
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hh"))
          .agg(count(lit(1)).as("x"))
          .groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n_hours"),
            sum("x").cast("long").as("n_events"),
            graft.functions.GraftFunctions.longDiv(
              (dec(count(lit(1))) * sum(dec(col("x")) * dec(col("x"))) -
                dec(sum("x")) * dec(sum("x"))) * dec(lit(1000000L)),
              dec(count(lit(1))) * dec(sum("x"))).cast("long").as("fano_x1e6"))
          .orderBy("event_type")
      },
      Some(
        """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hh, count(*) AS x
          |  FROM events GROUP BY 1, 2),
          |a AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
          |    CAST(sum(x) AS HUGEINT) AS s, CAST(sum(x * x) AS HUGEINT) AS s2
          |  FROM h GROUP BY 1)
          |SELECT event_type, CAST(n AS BIGINT) AS n_hours, CAST(s AS BIGINT) AS n_events,
          |  CAST((n * s2 - s * s) * 1000000 // (n * s) AS BIGINT) AS fano_x1e6
          |FROM a ORDER BY event_type""".stripMargin)),

    // Basket-size distribution — lines per order histogram, the
    // one-glance profile behind every join-fanout and pair-explosion
    // cost model in this engine (the co-order pair volume is
    // Σ C(size,2) of exactly this table).
    "orders_basket_size_dist" -> Q(
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_orderkey").agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").cast("long").as("basket_size"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("basket_size"),
      Some(
        """WITH b AS (SELECT l_orderkey, count(*) AS sz FROM lineitem GROUP BY 1)
          |SELECT CAST(sz AS BIGINT) AS basket_size, count(*) AS n_orders
          |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Spearman rank correlation per nation between customer account
    // balance and lifetime order spend. Ranks are ROW_NUMBER over a
    // deterministic total order (value, custkey) — tie-FREE by
    // construction, so the no-tie identity rho = 1 − 6·Σd²/(n(n²−1))
    // is exact and engine-invariant (an avg-rank tie treatment would
    // need Pearson-on-ranks with a sqrt — not integer-exact). One
    // shuffle on nationkey serves both rank windows; the spend frame
    // is a keyed pre-aggregation (customer-cardinality, not orders).
    "stats_spearman_rho" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        val spend = Tables.orders(s, d)
          .groupBy("o_custkey")
          .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
            .cast("long").as("spend_c"))
        val base = Tables.customer(s, d)
          .join(spend, col("c_custkey") === col("o_custkey"), "left")
          .select(col("c_nationkey"), col("c_custkey"),
            expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("bal_c"),
            coalesce(col("spend_c"), lit(0L)).as("sp_c"))
        val wx = Window.partitionBy("c_nationkey").orderBy(col("bal_c"), col("c_custkey"))
        val wy = Window.partitionBy("c_nationkey").orderBy(col("sp_c"), col("c_custkey"))
        base
          .withColumn("dd", (row_number().over(wx).cast("long") -
            row_number().over(wy).cast("long")))
          .groupBy(col("c_nationkey").cast("long").as("nationkey"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("dd") * col("dd")).cast("long").as("sum_d2"))
          .filter(col("n") >= 2)
          .withColumn("den",
            dec(col("n")) * (dec(col("n")) * dec(col("n")) - lit(1L).cast("decimal(38,0)")))
          .withColumn("num", col("den") - lit(6L).cast("decimal(38,0)") * dec(col("sum_d2")))
          .select(col("nationkey"), col("n"), col("sum_d2"),
            when(col("num") >= 0,
              graft.functions.GraftFunctions.longDiv(
                col("num") * lit(1000000L).cast("decimal(38,0)"), col("den")))
              .otherwise(-graft.functions.GraftFunctions.longDiv(
                (-col("num")) * lit(1000000L).cast("decimal(38,0)"), col("den")))
              .cast("long").as("rho_x1e6"))
          .orderBy("nationkey")
      },
      Some(
        """WITH sp AS (SELECT o_custkey,
          |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sp_c
          |  FROM orders GROUP BY 1),
          |b AS (SELECT c_nationkey, c_custkey,
          |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c,
          |    coalesce(sp.sp_c, 0) AS sp_c
          |  FROM customer LEFT JOIN sp ON c_custkey = o_custkey),
          |r AS (SELECT c_nationkey,
          |    CAST(row_number() OVER (PARTITION BY c_nationkey ORDER BY bal_c, c_custkey) AS BIGINT)
          |      - CAST(row_number() OVER (PARTITION BY c_nationkey ORDER BY sp_c, c_custkey) AS BIGINT)
          |      AS dd
          |  FROM b),
          |a AS (SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
          |    CAST(count(*) AS HUGEINT) AS n, CAST(sum(dd * dd) AS HUGEINT) AS s2
          |  FROM r GROUP BY 1 HAVING count(*) >= 2)
          |SELECT nationkey, CAST(n AS BIGINT) AS n, CAST(s2 AS BIGINT) AS sum_d2,
          |  CAST(CASE WHEN n * (n * n - 1) - 6 * s2 >= 0
          |    THEN (n * (n * n - 1) - 6 * s2) * 1000000 // (n * (n * n - 1))
          |    ELSE -((-(n * (n * n - 1) - 6 * s2)) * 1000000 // (n * (n * n - 1)))
          |    END AS BIGINT) AS rho_x1e6
          |FROM a ORDER BY nationkey""".stripMargin)),

    // Mann–Kendall trend statistic on the daily revenue series per
    // order priority: S = Σ_{i<j} sign(x_j − x_i), plus exact Kendall
    // tau-a ×1e6 = S div C(n,2). The pair stage runs on the
    // DAY-AGGREGATED frame — its volume is (date-span)², bounded by the
    // calendar and CORPUS-SIZE INDEPENDENT (the corpus scan is one
    // keyed aggregation); the complement to Theil–Sen (slope) and CUSUM
    // (changepoint location): a distribution-free monotone-trend test.
    // S is computed from each group's COLLECTED date-ordered series in
    // one fused O(n log n) call (graft_mann_kendall_s, Fenwick-counted
    // signs — exactly the pair join's when(>,1).when(<,-1) sum), not by
    // materializing the ~14M-row span² self-join the DuckDB oracle
    // keeps: same integer comparisons, no pair exchange. n_days =
    // count(*) of the day frame ≡ the join form's countDistinct(d1)+1
    // on every ≥2-day group, and 1-day groups emit nothing either way
    // (no pairs ⇒ no group row there; explicit filter here).
    "stats_mann_kendall" -> Q(
      (s, d) => {
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        val day = Tables.orders(s, d)
          .groupBy(col("o_orderpriority"), col("o_orderdate"))
          .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
            .cast("long").as("rev_c"))
        day.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).cast("long").as("n_days"),
            sort_array(collect_list(struct(col("o_orderdate").as("d"),
              col("rev_c").as("x")))).as("ser"))
          .filter(col("n_days") >= 2)
          .select(col("o_orderpriority"), col("n_days"),
            // `ser.x` extracts the field array in codegen; a transform
            // lambda would keep this projection out of whole-stage codegen
            graft.functions.MannKendallSExpr(col("ser.x")).as("s_stat"))
          // tau = S / C(n,2); computed as 2·S·1e6 div (n(n−1)) — the
          // doubled form keeps every operand integral (no decimal
          // division scale), mathematically identical since n(n−1) is
          // even.
          .withColumn("den",
            dec(col("n_days")) * (dec(col("n_days")) - lit(1L).cast("decimal(38,0)")))
          .select(col("o_orderpriority"), col("n_days"), col("s_stat"),
            when(col("s_stat") >= 0,
              graft.functions.GraftFunctions.longDiv(
                dec(col("s_stat")) * lit(2000000L).cast("decimal(38,0)"), col("den")))
              .otherwise(-graft.functions.GraftFunctions.longDiv(
                (-dec(col("s_stat"))) * lit(2000000L).cast("decimal(38,0)"), col("den")))
              .cast("long").as("tau_x1e6"))
          .orderBy("o_orderpriority")
      },
      Some(
        """WITH day AS (SELECT o_orderpriority AS pri, o_orderdate AS dd,
          |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_c
          |  FROM orders GROUP BY 1, 2),
          |p AS (SELECT a.pri,
          |    CAST(count(DISTINCT a.dd) + 1 AS HUGEINT) AS n_days,
          |    CAST(sum(CASE WHEN b.rev_c > a.rev_c THEN 1
          |        WHEN b.rev_c < a.rev_c THEN -1 ELSE 0 END) AS HUGEINT) AS s_stat
          |  FROM day a JOIN day b ON a.pri = b.pri AND a.dd < b.dd
          |  GROUP BY 1)
          |SELECT pri AS o_orderpriority, CAST(n_days AS BIGINT) AS n_days,
          |  CAST(s_stat AS BIGINT) AS s_stat,
          |  CAST(CASE WHEN s_stat >= 0
          |    THEN s_stat * 2000000 // (n_days * (n_days - 1))
          |    ELSE -((-s_stat) * 2000000 // (n_days * (n_days - 1)))
          |    END AS BIGINT) AS tau_x1e6
          |FROM p ORDER BY o_orderpriority""".stripMargin)),

    // Open-order backlog depth: how many orders are placed but not yet
    // fully shipped, tracked as a DIFFERENCE ARRAY (+1 at order date,
    // −1 at last ship date) cumulated over the day axis — the interval
    // stabbing count WITHOUT an interval join (the r9 interval-overlap
    // join materializes pairs; this is the O(days) aggregate twin a
    // 100 TB warehouse uses for queue-depth dashboards). The global
    // cumulative window runs on the day-delta frame only (≤ date-span
    // rows — the pipeline_shard_budget SinglePartition discipline).
    // Depth is piecewise constant between change days; the monthly peak
    // reads the post-change value on change days in that month
    // (documented: a month with no state change does not emit a row).
    "orders_open_backlog" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val close = Tables.lineitem(s, d)
          .groupBy(col("l_orderkey"))
          .agg(max(col("l_shipdate")).as("close_d"))
        val iv = Tables.orders(s, d)
          .join(close, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_orderdate").as("open_d"), col("close_d"))
          .filter(col("close_d") > col("open_d"))
        val deltas = iv.select(col("open_d").as("day"), lit(1L).as("delta"))
          .unionByName(iv.select(col("close_d").as("day"), lit(-1L).as("delta")))
          .groupBy("day").agg(sum("delta").cast("long").as("delta"))
        deltas
          .withColumn("open_cnt",
            sum("delta").over(Window.orderBy("day")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"))
          .groupBy(date_format(col("day"), "yyyy-MM").as("month"))
          .agg(max("open_cnt").cast("long").as("peak_open"),
            count(lit(1)).cast("long").as("n_change_days"))
          .orderBy("month")
      },
      Some(
        """WITH cl AS (SELECT l_orderkey, max(l_shipdate) AS close_d
          |  FROM lineitem GROUP BY 1),
          |iv AS (SELECT o_orderdate AS open_d, cl.close_d
          |  FROM orders JOIN cl ON o_orderkey = l_orderkey
          |  WHERE cl.close_d > o_orderdate),
          |dl AS (SELECT day, CAST(sum(delta) AS BIGINT) AS delta FROM (
          |    SELECT open_d AS day, 1 AS delta FROM iv
          |    UNION ALL SELECT close_d, -1 FROM iv)
          |  GROUP BY 1),
          |c AS (SELECT day,
          |    CAST(sum(delta) OVER (ORDER BY day
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS open_cnt
          |  FROM dl)
          |SELECT strftime(day, '%Y-%m') AS month,
          |  CAST(max(open_cnt) AS BIGINT) AS peak_open,
          |  count(*) AS n_change_days
          |FROM c GROUP BY 1 ORDER BY month""".stripMargin)),

    // Lorenz curve / Pareto table of customer lifetime revenue: rank
    // every ordering customer by exact cents (ties broken by custkey),
    // cut into 10 explicit-arithmetic deciles
    // (decile = (rank−1)·10 div n + 1 — NOT the engines' NTILE, whose
    // remainder placement is convention), and read off each decile's
    // revenue share and cumulative share ×1e6. Ranking is
    // ops/Stats.bucketedRank — range-bucket + partitioned window +
    // tiny-offsets frame, the stats_gini_customers discipline, so no
    // corpus-sized SinglePartition sort; the only global window runs
    // on the 10-row decile frame. The "top decile owns X% of revenue"
    // readout that complements gini (one number) with the full curve.
    "stats_lorenz_deciles" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        val rev = Tables.orders(s, d)
          .groupBy(col("o_custkey").as("cust"))
          .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
            .cast("long").as("rev"))
        val ranked = graft.ops.Stats.bucketedRank(rev, "rev", "cust",
          bucketWidth = 1L << 22)
        val tot = ranked.agg(count(lit(1)).as("n"), sum("rev").as("total"))
        ranked.crossJoin(broadcast(tot))
          .withColumn("decile", expr("(rank - 1) * 10 div n + 1"))
          .groupBy(col("decile").cast("long").as("decile"))
          .agg(count(lit(1)).as("n_customers"),
            sum("rev").cast("long").as("rev_cents"),
            max("total").as("total"))
          .withColumn("cum_cents",
            sum("rev_cents").over(Window.orderBy("decile")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("decile"), col("n_customers"), col("rev_cents"),
            graft.functions.GraftFunctions.longDiv(
              dec(col("rev_cents")) * dec(lit(1000000L)), dec(col("total")))
              .cast("long").as("share_x1e6"),
            graft.functions.GraftFunctions.longDiv(
              dec(col("cum_cents")) * dec(lit(1000000L)), dec(col("total")))
              .cast("long").as("cum_share_x1e6"))
          .orderBy("decile")
      },
      Some(
        """WITH r AS (SELECT o_custkey AS cust,
          |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
          |  FROM orders GROUP BY 1),
          |t AS (SELECT CAST(count(*) AS HUGEINT) AS n,
          |    CAST(sum(rev) AS HUGEINT) AS total FROM r),
          |rk AS (SELECT rev, row_number() OVER (ORDER BY rev, cust) AS rnk FROM r),
          |dd AS (SELECT (rnk - 1) * 10 // n + 1 AS decile, rev FROM rk CROSS JOIN t),
          |g AS (SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n_customers,
          |    CAST(sum(rev) AS BIGINT) AS rev_cents FROM dd GROUP BY 1),
          |c AS (SELECT decile, n_customers, rev_cents,
          |    CAST(sum(rev_cents) OVER (ORDER BY decile) AS HUGEINT) AS cum FROM g)
          |SELECT decile, n_customers, rev_cents,
          |  CAST(CAST(rev_cents AS HUGEINT) * 1000000 // total AS BIGINT) AS share_x1e6,
          |  CAST(cum * 1000000 // total AS BIGINT) AS cum_share_x1e6
          |FROM c CROSS JOIN t ORDER BY decile""".stripMargin)),

    // Tukey-fence outlier census per event type, in exact integer
    // cents: Q1/Q3 are the values at ranks ceil(n/4) / ceil(3n/4)
    // (cum·4 ≥ n ⟺ cum ≥ ceil(n/4) for integers — no division
    // convention in the gate at all), read off the DISTINCT-value
    // cumulative frame (domain-bounded, the agg_median_mode
    // discipline); the 1.5·IQR fences are applied DOUBLED
    // (2v < 5·Q1 − 3·Q3 / 2v > 5·Q3 − 3·Q1) so the half-cent fence
    // positions never materialize as rationals. One corpus scan to the
    // distinct-value frame, every window partitioned by type.
    "stats_tukey_outliers" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val dc = Tables.events(s, d)
          .select(col("event_type"),
            expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("c"))
          .groupBy("event_type", "c").agg(count(lit(1)).as("cnt"))
          .localCheckpoint(true)
        val tot = dc.groupBy("event_type").agg(sum("cnt").as("n"))
        val cum = dc.withColumn("cum",
          sum("cnt").over(Window.partitionBy("event_type").orderBy("c")))
          .join(broadcast(tot), "event_type")
        val q1 = cum.filter(col("cum") * 4 >= col("n"))
          .groupBy("event_type").agg(min("c").as("q1_c"))
        val q3 = cum.filter(col("cum") * 4 >= col("n") * 3)
          .groupBy("event_type").agg(min("c").as("q3_c"))
        val fences = q1.join(q3, "event_type")
        dc.join(broadcast(fences), "event_type")
          .groupBy("event_type")
          .agg(sum("cnt").cast("long").as("n"),
            max("q1_c").cast("long").as("q1_c"),
            max("q3_c").cast("long").as("q3_c"),
            sum(when(col("c") * 2 < col("q1_c") * 5 - col("q3_c") * 3,
              col("cnt")).otherwise(0L)).cast("long").as("n_low"),
            sum(when(col("c") * 2 > col("q3_c") * 5 - col("q1_c") * 3,
              col("cnt")).otherwise(0L)).cast("long").as("n_high"))
          .orderBy("event_type")
      },
      Some(
        """WITH v AS (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
          |  FROM events),
          |dc AS (SELECT event_type, c, count(*) AS cnt FROM v GROUP BY 1, 2),
          |tot AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n FROM dc GROUP BY 1),
          |cum AS (SELECT event_type, c, cnt,
          |    sum(cnt) OVER (PARTITION BY event_type ORDER BY c) AS cum
          |  FROM dc),
          |q1 AS (SELECT event_type, min(c) AS q1_c
          |       FROM cum JOIN tot USING (event_type)
          |       WHERE cum * 4 >= n GROUP BY 1),
          |q3 AS (SELECT event_type, min(c) AS q3_c
          |       FROM cum JOIN tot USING (event_type)
          |       WHERE cum * 4 >= n * 3 GROUP BY 1)
          |SELECT dc.event_type, CAST(sum(cnt) AS BIGINT) AS n,
          |  max(q1_c) AS q1_c, max(q3_c) AS q3_c,
          |  CAST(sum(CASE WHEN c * 2 < q1_c * 5 - q3_c * 3 THEN cnt ELSE 0 END)
          |    AS BIGINT) AS n_low,
          |  CAST(sum(CASE WHEN c * 2 > q3_c * 5 - q1_c * 3 THEN cnt ELSE 0 END)
          |    AS BIGINT) AS n_high
          |FROM dc JOIN q1 USING (event_type) JOIN q3 USING (event_type)
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // k-truss census of the support-pruned co-order graph: edges in
    // ≥ k−2 triangles, support re-derived on survivors for 5 declared
    // peeling passes (ops/Basket.kTruss — the edge-grain sibling of
    // graph_kcore; the spec asserts the corpus fixpoint lands within
    // them, and proves the multi-round cascade on a crafted strip at
    // k=4). k=3 here — the triangle-connected backbone — because the
    // 4-truss of this corpus is empty past sf0.001 (measured), which
    // would gate nothing. The oracle unrolls the identical rounds with
    // MATERIALIZED CTEs (the graph_kcore discipline).
    "graph_k_truss" -> Q(
      (s, d) => graft.ops.Basket.kTruss(Tables.lineitem(s, d), k = kTrussK,
        rounds = 5, minSupport = 2),
      Some {
        val base =
          """WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
            |e0 AS MATERIALIZED (SELECT a.pk AS pa, b.pk AS pb
            |      FROM op a JOIN op b ON b.ok = a.ok AND a.pk < b.pk
            |      GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin
        val rounds = (1 to 5).map { i =>
          s"""w$i AS (SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
             |  FROM e${i - 1} e1 JOIN e${i - 1} e2 ON e2.pa = e1.pb),
             |t$i AS MATERIALIZED (SELECT a, b, c FROM w$i WHERE EXISTS
             |  (SELECT 1 FROM e${i - 1} e WHERE e.pa = w$i.a AND e.pb = w$i.c)),
             |s$i AS (SELECT pa, pb FROM (
             |    SELECT pa, pb, count(*) AS sup FROM (
             |      SELECT a AS pa, b AS pb FROM t$i
             |      UNION ALL SELECT b, c FROM t$i
             |      UNION ALL SELECT a, c FROM t$i)
             |    GROUP BY 1, 2) WHERE sup >= ${kTrussK - 2}),
             |e$i AS MATERIALIZED (SELECT e.pa, e.pb FROM e${i - 1} e
             |  JOIN s$i s ON s.pa = e.pa AND s.pb = e.pb)""".stripMargin
        }.mkString(",\n")
        s"""$base,
           |$rounds
           |SELECT (SELECT count(*) FROM
           |    (SELECT pa AS n FROM e5 UNION SELECT pb FROM e5)) AS n_truss_nodes,
           |  (SELECT count(*) FROM e5) AS n_truss_edges""".stripMargin
      }),

    // Cramér's V² between part brand and lineitem return flag — the
    // normalized effect size stats_chi2_segments lacks (chi2 grows
    // with n; V² = chi2 / (n·min(r−1, c−1)) ∈ [0,1] is comparable
    // across corpus sizes, the screen a feature-selection pass ranks
    // by). Same exact-integer cell arithmetic as the chi2 query;
    // V²×1e9 derives from the FLOORED chi2_x1e6 (documented
    // quantization — both engines floor identically on non-negative
    // operands). ONE fact-table pass: the corpus is scanned once into
    // the tiny contingency frame obs (≤ brands × flags rows); the
    // margins rn/cn/tn are re-aggregations of obs, not re-scans — at
    // 100 TB the join+groupBy runs once and everything downstream is
    // driver-sized. V kept squared so no sqrt enters the gate.
    "stats_cramers_v" -> Q(
      (s, d) => {
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        // no broadcast hint on part: the dim scales with the corpus (the
        // graph_modularity_brands discipline — at 100 TB part is the big
        // side); AQE picks broadcast at test SFs on its own
        val j = Tables.lineitem(s, d)
          .join(Tables.part(s, d)
            .select(col("p_partkey").as("l_partkey"), col("p_brand").as("brand")),
            "l_partkey")
          .select(col("brand"), col("l_returnflag").as("flag"))
        val obs = j.groupBy("brand", "flag").agg(count(lit(1)).as("obs0"))
          .localCheckpoint(true)
        val rn = obs.groupBy("brand").agg(sum("obs0").as("rn"))
        val cn = obs.groupBy("flag").agg(sum("obs0").as("cn"))
        val tn = obs.agg(sum("obs0").as("tn"))
        // cell basis = rows × columns (cross of the two TINY margin
        // frames), not the observed combos — a zero cell still
        // contributes rn·cn/tn to chi2 (a crafted perfect-association
        // fixture reads V² = 1 only with zero cells counted). The
        // broadcast hint is the CartesianGuard opt-in: margin frames
        // are domain-bounded (distinct brands × flags), never corpus
        val cells = rn.crossJoin(broadcast(cn))
          .join(obs, Seq("brand", "flag"), "left")
          .withColumn("obs", coalesce(col("obs0"), lit(0L)))
          .crossJoin(broadcast(tn))
          .withColumn("term_x1e6", graft.functions.GraftFunctions.longDiv(
            (dec(col("obs")) * dec(col("tn")) - dec(col("rn")) * dec(col("cn")))
              * (dec(col("obs")) * dec(col("tn")) - dec(col("rn")) * dec(col("cn")))
              * dec(lit(1000000L)),
            dec(col("rn")) * dec(col("cn")) * dec(col("tn"))).cast("long"))
        cells.agg(
            countDistinct(col("brand")).as("n_r"),
            countDistinct(col("flag")).as("n_c"),
            max(col("tn")).as("n"),
            sum("term_x1e6").as("chi2_x1e6"))
          .select(col("n").cast("long").as("n"),
            col("n_r").cast("long").as("n_r"),
            col("n_c").cast("long").as("n_c"),
            col("chi2_x1e6").cast("long").as("chi2_x1e6"),
            graft.functions.GraftFunctions.longDiv(
              dec(col("chi2_x1e6")) * dec(lit(1000L)),
              dec(col("n")) * dec(least(col("n_r") - 1, col("n_c") - 1)))
              .cast("long").as("v2_x1e9"))
      },
      Some(
        """WITH j AS (SELECT p.p_brand AS brand, l.l_returnflag AS flag
          |           FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
          |obs AS (SELECT brand, flag, count(*) AS obs FROM j GROUP BY 1, 2),
          |r AS (SELECT brand, count(*) AS rn FROM j GROUP BY 1),
          |c AS (SELECT flag, count(*) AS cn FROM j GROUP BY 1),
          |t AS (SELECT count(*) AS tn FROM j),
          |basis AS (SELECT r.brand, c.flag, r.rn, c.cn,
          |    coalesce(obs.obs, 0) AS obs
          |  FROM r CROSS JOIN c
          |  LEFT JOIN obs ON obs.brand = r.brand AND obs.flag = c.flag),
          |cells AS (SELECT
          |    CAST((CAST(obs AS HUGEINT) * tn - CAST(rn AS HUGEINT) * cn)
          |         * (CAST(obs AS HUGEINT) * tn - CAST(rn AS HUGEINT) * cn)
          |         * 1000000
          |         // (CAST(rn AS HUGEINT) * cn * tn) AS BIGINT) AS term_x1e6,
          |    basis.brand, basis.flag, tn
          |  FROM basis CROSS JOIN t)
          |SELECT CAST(max(tn) AS BIGINT) AS n,
          |  count(DISTINCT brand) AS n_r,
          |  count(DISTINCT flag) AS n_c,
          |  CAST(sum(term_x1e6) AS BIGINT) AS chi2_x1e6,
          |  CAST(CAST(sum(term_x1e6) AS HUGEINT) * 1000
          |    // (CAST(max(tn) AS HUGEINT)
          |        * least(count(DISTINCT brand) - 1, count(DISTINCT flag) - 1))
          |    AS BIGINT) AS v2_x1e9
          |FROM cells""".stripMargin)),

    // PMI-ranked collocations: top bigrams by pointwise mutual
    // information, NOT raw count (text_bigram_topk) — PMI surfaces
    // pairs that co-occur far above chance even at modest counts, the
    // phrase-mining signal (Church & Hanks 1990). log is monotone, so
    // ranking by the exact rational p(xy)/(p(x)p(y)) =
    // c_xy·Nu²/(Nb·c_x·c_y) IS the PMI order — ×1e6 floored, ties
    // broken (w1, w2), no float log in the gate. Count floor ≥ 20
    // keeps the rare-pair PMI explosion out. One bigram explode scan;
    // unigram/bigram LM frames are vocab-sized keyed joins (the
    // text_bigram_surprisal shape).
    "text_bigram_pmi" -> Q(
      (s, d) => {
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        val toks = Tables.documents(s, d)
          .select(expr(
            "filter(split(lower(text), '\\\\s+'), t -> t != '')").as("tk"))
        // uni appears in THREE consumers (nu + the c1/c2 joins) and bi
        // in two (nb + the ranking) — all as IDENTICAL subplans, so
        // Catalyst's ReusedExchange computes each groupBy exchange once
        // (verified: an eager localCheckpoint here measured SLOWER at
        // 30× because it blocks that reuse and forces a materialization)
        val uni = toks.select(explode(col("tk")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("cw"))
        val nu = uni.agg(sum("cw").as("nu"))
        val biAll = toks.filter(size(col("tk")) >= 2)
          .select(explode(expr(
            "transform(slice(tk, 1, size(tk) - 1), (w, i) -> struct(w AS w1, tk[i + 1] AS w2))")).as("b"))
          .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
          .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
        // nb = total bigram mass BEFORE the count floor (ADVICE r9): the
        // ratio is PMI against the full bigram distribution, not the
        // filtered subset — the floor only limits which pairs are RANKED
        val nb = biAll.agg(sum("n").as("nb"))
        val bi = biAll.filter(col("n") >= 20)
        bi
          .join(uni.select(col("w").as("w1"), col("cw").as("c1")), "w1")
          .join(uni.select(col("w").as("w2"), col("cw").as("c2")), "w2")
          .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
          .select(col("w1"), col("w2"), col("n").cast("long").as("n"),
            graft.functions.GraftFunctions.longDiv(
              dec(col("n")) * dec(col("nu")) * dec(col("nu")) * dec(lit(1000000L)),
              dec(col("nb")) * dec(col("c1")) * dec(col("c2")))
              .cast("long").as("pmi_ratio_x1e6"))
          .orderBy(desc("pmi_ratio_x1e6"), asc("w1"), asc("w2")).limit(50)
      },
      Some(
        """WITH t AS (SELECT list_filter(
          |    regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS tk
          |  FROM documents),
          |uni AS (SELECT w, count(*) AS cw FROM (SELECT unnest(tk) AS w FROM t)
          |        GROUP BY 1),
          |nu AS (SELECT CAST(sum(cw) AS HUGEINT) AS nu FROM uni),
          |u AS (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i
          |      FROM t WHERE len(tk) >= 2),
          |bi_all AS (SELECT tk[i] AS w1, tk[i + 1] AS w2, count(*) AS n
          |    FROM u GROUP BY 1, 2),
          |nb AS (SELECT CAST(sum(n) AS HUGEINT) AS nb FROM bi_all),
          |bi AS (SELECT w1, w2, n FROM bi_all WHERE n >= 20)
          |SELECT w1, w2, CAST(n AS BIGINT) AS n,
          |  CAST(CAST(n AS HUGEINT) * nu * nu * 1000000
          |    // (nb * CAST(c1.cw AS HUGEINT) * c2.cw) AS BIGINT) AS pmi_ratio_x1e6
          |FROM bi JOIN uni c1 ON c1.w = bi.w1 JOIN uni c2 ON c2.w = bi.w2
          |CROSS JOIN nu CROSS JOIN nb
          |ORDER BY pmi_ratio_x1e6 DESC, w1, w2 LIMIT 50""".stripMargin)),

    // Code-vs-prose detector — the pre-tokenization routing split every
    // LLM data pipeline runs (code to a code tokenizer/mix weight,
    // prose to the text pipeline). Symbol-density heuristic: a doc is
    // "code" when 10 × count of [{}();=] chars > its whitespace token
    // count — braces/semicolons/assignments are ~absent from prose and
    // dense in every bracketed language. The corpus is pure prose, so
    // deterministic code-shaped variants of docs 0-39 are planted
    // in-query under doc_id+400000 (the dedup_canonical discipline):
    // the per-source census proves both sides of the split. ONE
    // codegen scan (regexp strip + lengths), no joins, no UDF.
    "text_code_detect" -> Q(
      (s, d) => {
        val base = Tables.documents(s, d)
        val plants = base.filter(col("doc_id") < 40)
          .withColumn("doc_id", col("doc_id") + 400000)
          .withColumn("text", concat(
            lit("func f"), col("doc_id"), lit("(x) { return x + "),
            col("doc_id"), lit("; } let y = f("), col("doc_id"),
            lit("); // "), substring(col("text"), 1, 40)))
        base.unionByName(plants)
          .select(col("source"),
            (length(col("text")) -
              length(regexp_replace(col("text"), "[{}();=]", ""))).as("sym"),
            size(expr("filter(split(text, '\\\\s+'), t -> t != '')")).as("toks"))
          .withColumn("is_code",
            when(col("sym") * 10 > col("toks"), 1L).otherwise(0L))
          .groupBy("source")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum("is_code").cast("long").as("n_code"))
          .withColumn("code_rate_x1e6",
            expr("n_code * 1000000L div n_docs"))
          .orderBy("source")
      },
      Some(
        """WITH docs AS (
          |  SELECT source, text FROM documents
          |  UNION ALL
          |  SELECT source,
          |    'func f' || (doc_id + 400000) || '(x) { return x + '
          |      || (doc_id + 400000) || '; } let y = f(' || (doc_id + 400000)
          |      || '); // ' || substring(text, 1, 40) AS text
          |  FROM documents WHERE doc_id < 40),
          |f AS (SELECT source,
          |    length(text) - length(regexp_replace(text, '[{}();=]', '', 'g')) AS sym,
          |    len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS toks
          |  FROM docs)
          |SELECT source, count(*) AS n_docs,
          |  CAST(sum(CASE WHEN sym * 10 > toks THEN 1 ELSE 0 END) AS BIGINT) AS n_code,
          |  CAST(sum(CASE WHEN sym * 10 > toks THEN 1 ELSE 0 END) * 1000000
          |    // count(*) AS BIGINT) AS code_rate_x1e6
          |FROM f GROUP BY 1 ORDER BY 1""".stripMargin)),

    // One-way ANOVA F statistic of order value across the five order
    // priorities — the "does this segmentation explain any variance"
    // screen behind every mix/stratification decision upstream of it
    // (complements stats_chi2_segments, which tests categorical
    // association; this tests a numeric response). Sum decomposition
    // in exact integers over whole DOLLARS (per-order floor — cents²
    // sums would push the per-group s_g²/n_g terms past BIGINT at 30×;
    // dollar² keeps every column long-safe past 100×): per-group
    // Σx/Σx² collapse in ONE corpus scan to a k-row frame, every later
    // term derived from that frame (the stats_cramers_v discipline).
    // The only quantizations are the per-group unit floors (identical
    // both engines, non-negative operands throughout — greatest(0,·)
    // absorbs the ≤k-ULP floor residue so SSB/SSW never go negative).
    "stats_anova_f" -> Q(
      (s, d) => {
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        val g = Tables.orders(s, d)
          .select(expr("CAST(floor(o_totalprice) AS BIGINT)").as("x"),
            col("o_orderpriority").as("grp"))
          .groupBy("grp")
          .agg(count(lit(1)).as("ng"), sum(dec(col("x"))).as("sg"),
            sum(dec(col("x")) * dec(col("x"))).as("qg"))
          .withColumn("bg", graft.functions.GraftFunctions.longDiv(
            col("sg") * col("sg"), dec(col("ng"))))
        g.agg(count(lit(1)).as("k"), sum(dec(col("ng"))).as("n"),
            sum(col("sg")).as("s"), sum(col("qg")).as("q"),
            sum(dec(col("bg"))).as("bgs"))
          .select(col("k"), col("n"),
            greatest(dec(lit(0L)), col("bgs") -
              graft.functions.GraftFunctions.longDiv(
                col("s") * col("s"), col("n")).cast("decimal(38,0)")).as("ssb"),
            greatest(dec(lit(0L)), col("q") - col("bgs")).as("ssw"))
          .select(col("k").cast("long").as("k"), col("n").cast("long").as("n"),
            col("ssb").cast("long").as("ssb"),
            col("ssw").cast("long").as("ssw"),
            graft.functions.GraftFunctions.longDiv(
              col("ssb") * (col("n") - col("k")).cast("decimal(38,0)")
                * dec(lit(1000000L)),
              nullif(col("ssw") * (col("k") - 1).cast("decimal(38,0)"),
                dec(lit(0L)))).cast("long").as("f_x1e6"))
      },
      Some(
        """WITH g AS (SELECT o_orderpriority AS grp, count(*) AS ng,
          |    sum(CAST(CAST(floor(o_totalprice) AS BIGINT) AS HUGEINT)) AS sg,
          |    sum(CAST(CAST(floor(o_totalprice) AS BIGINT) AS HUGEINT)
          |        * CAST(floor(o_totalprice) AS BIGINT)) AS qg
          |  FROM orders GROUP BY 1),
          |b AS (SELECT grp, ng, sg, qg, sg * sg // ng AS bg FROM g),
          |t AS (SELECT count(*) AS k, sum(ng) AS n, sum(sg) AS s, sum(qg) AS q,
          |    sum(bg) AS bgs FROM b),
          |f AS (SELECT k, n,
          |    greatest(0, bgs - s * s // n) AS ssb,
          |    greatest(0, q - bgs) AS ssw FROM t)
          |SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
          |  CAST(ssb AS BIGINT) AS ssb, CAST(ssw AS BIGINT) AS ssw,
          |  CAST(ssb * (n - k) * 1000000 // nullif(ssw * (k - 1), 0) AS BIGINT)
          |    AS f_x1e6
          |FROM f""".stripMargin)),

    // Newman modularity of the brand partition over the co-purchase
    // graph — "are brands real communities in purchasing behavior?",
    // the quality score that adjudicates any community detection
    // (graph_label_propagation emits communities; this scores a
    // partition). Q = Σ_c (e_c/m − (d_c/2m)²) over the same
    // support-pruned co-order edge set as graph_local_bridges /
    // clustering_coeff; per-community terms emitted with the common
    // denominator 4m² so Q = Σ q_term exactly, sign-factored ×1e9
    // (a cross-heavy brand has d_c² > 4m·e_c ⇒ negative term; DuckDB
    // // floors where Java div truncates, so |·| first). Everything
    // past the one edge derivation runs on edge-count-sized frames;
    // the brand map is a broadcast dim.
    "graph_modularity_brands" -> Q(
      (s, d) => {
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        val e0 = graft.ops.Basket.coOrderEdges(Tables.lineitem(s, d), minSupport = 2)
          .select("pa", "pb").localCheckpoint(true)
        val m = e0.agg(count(lit(1)).as("m"))
        val deg = e0.select(col("pa").as("v"))
          .unionByName(e0.select(col("pb").as("v")))
          .groupBy("v").agg(count(lit(1)).as("deg"))
        // node→brand map: ONE part scan probed by the broadcast
        // graph-node frame (support-pruned, edge-bounded) — never the
        // reverse: force-broadcasting the part DIM would collect the
        // full dimension on the driver three times (measured 3× slower
        // at 10×); at 100 TB the dim is the big side here
        val nb = Tables.part(s, d)
          .select(col("p_partkey").as("v"), col("p_brand"))
          .join(broadcast(deg), "v")
          .localCheckpoint(true)
        val dc = nb.groupBy(col("p_brand").as("brand"))
          .agg(count(lit(1)).as("n_nodes"), sum("deg").as("deg_sum"))
        val ec = e0
          .join(broadcast(nb.select(col("v").as("pa"), col("p_brand").as("ba"))),
            "pa")
          .join(broadcast(nb.select(col("v").as("pb"), col("p_brand").as("bb"))),
            "pb")
          .filter(col("ba") === col("bb"))
          .groupBy(col("ba").as("brand")).agg(count(lit(1)).as("in_edges0"))
        dc.join(ec, Seq("brand"), "left")
          .withColumn("in_edges", coalesce(col("in_edges0"), lit(0L)))
          .crossJoin(broadcast(m))
          .withColumn("num", dec(lit(4L)) * dec(col("m")) * dec(col("in_edges"))
            - dec(col("deg_sum")) * dec(col("deg_sum")))
          .withColumn("den", dec(lit(4L)) * dec(col("m")) * dec(col("m")))
          .select(col("brand"), col("n_nodes").cast("long").as("n_nodes"),
            col("deg_sum").cast("long").as("deg_sum"),
            col("in_edges").cast("long").as("in_edges"),
            when(col("num") >= 0, graft.functions.GraftFunctions.longDiv(
                col("num") * dec(lit(1000000000L)), col("den")))
              .otherwise(-graft.functions.GraftFunctions.longDiv(
                -col("num") * dec(lit(1000000000L)), col("den")))
              .cast("long").as("q_term_x1e9"))
          .orderBy("brand")
      },
      Some(
        """WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
          |e0 AS MATERIALIZED (SELECT a.pk AS pa, b.pk AS pb
          |      FROM op a JOIN op b ON b.ok = a.ok AND a.pk < b.pk
          |      GROUP BY 1, 2 HAVING count(*) >= 2),
          |m AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM e0),
          |deg AS (SELECT v, count(*) AS deg FROM
          |        (SELECT pa AS v FROM e0 UNION ALL SELECT pb FROM e0) GROUP BY 1),
          |dc AS (SELECT p_brand AS brand, count(*) AS n_nodes,
          |         CAST(sum(deg) AS HUGEINT) AS deg_sum
          |       FROM deg JOIN part ON p_partkey = v GROUP BY 1),
          |ec AS (SELECT pab.p_brand AS brand, count(*) AS in_edges
          |       FROM e0 JOIN part pab ON pab.p_partkey = e0.pa
          |                JOIN part pbb ON pbb.p_partkey = e0.pb
          |       WHERE pab.p_brand = pbb.p_brand GROUP BY 1),
          |j AS (SELECT dc.brand, dc.n_nodes, dc.deg_sum,
          |        CAST(coalesce(ec.in_edges, 0) AS HUGEINT) AS in_edges
          |      FROM dc LEFT JOIN ec ON ec.brand = dc.brand),
          |q AS (SELECT brand, n_nodes, deg_sum, in_edges,
          |    4 * m * in_edges - deg_sum * deg_sum AS num,
          |    4 * m * m AS den
          |  FROM j CROSS JOIN m)
          |SELECT brand, CAST(n_nodes AS BIGINT) AS n_nodes,
          |  CAST(deg_sum AS BIGINT) AS deg_sum, CAST(in_edges AS BIGINT) AS in_edges,
          |  CAST(CASE WHEN num >= 0 THEN num * 1000000000 // den
          |       ELSE -((-num) * 1000000000 // den) END AS BIGINT) AS q_term_x1e9
          |FROM q ORDER BY brand""".stripMargin)),

    // OLS goodness-of-fit per nation: R² (and the slope) of WEEKLY
    // revenue against the week index, in EXACT integers — the
    // "is this trend real" companion to events_trend_slope (slope
    // only, float) and stats_mann_kendall (distribution-free, no
    // magnitude). R²·1e6 = (kΣxy−ΣxΣy)²·1e6 / ((kΣx²−(Σx)²)(kΣy²−(Σy)²))
    // — num² ≤ dxx·dyy by Cauchy–Schwarz so the ratio is ≤1e6 always.
    // Week granularity + whole-dollar y are the overflow schedule:
    // num²·1e6 ≤ k²·Σx²·Σy²·1e6 stays under DECIMAL(38,0)/HUGEINT
    // past 100× (daily cents would cross 1e38 at 30×). Slope is
    // sign-factored; a zero-variance nation (dyy=0) reads NULL R² via
    // nullif on both engines (DuckDB // by zero would error, Spark div
    // would null — nullif makes them agree). Corpus pays one keyed
    // join + one (nation, week) collapse; the regression runs on the
    // calendar-bounded week frame.
    "stats_ols_r2" -> Q(
      (s, d) => {
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        val ord = Tables.orders(s, d)
        val mn = ord.agg(min(to_date(col("o_orderdate"))).as("mnd"))
        ord
          .join(Tables.customer(s, d).select(col("c_custkey").as("o_custkey"),
            col("c_nationkey")), "o_custkey")
          .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey").as("c_nationkey"), col("n_name"))),
            "c_nationkey")
          .crossJoin(broadcast(mn))
          .groupBy(col("n_name").as("nation"),
            expr("CAST(datediff(to_date(o_orderdate), mnd) AS BIGINT) div 7")
              .as("x"))
          .agg(sum(expr("CAST(floor(o_totalprice) AS BIGINT)")).as("y"))
          .groupBy("nation")
          .agg(count(lit(1)).as("kk"),
            sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
            sum(dec(col("x")) * dec(col("y"))).as("sxy"),
            sum(dec(col("x")) * dec(col("x"))).as("sxx"),
            sum(dec(col("y")) * dec(col("y"))).as("syy"))
          .withColumn("num", dec(col("kk")) * col("sxy") - col("sx") * col("sy"))
          .withColumn("dxx", dec(col("kk")) * col("sxx") - col("sx") * col("sx"))
          .withColumn("dyy", dec(col("kk")) * col("syy") - col("sy") * col("sy"))
          .select(col("nation"), col("kk").cast("long").as("n_weeks"),
            graft.functions.GraftFunctions.longDiv(
              col("num") * col("num") * dec(lit(1000000L)),
              nullif(col("dxx") * col("dyy"), dec(lit(0L))))
              .cast("long").as("r2_x1e6"),
            when(col("num") >= 0, graft.functions.GraftFunctions.longDiv(
                col("num") * dec(lit(1000000L)), nullif(col("dxx"), dec(lit(0L)))))
              .otherwise(-graft.functions.GraftFunctions.longDiv(
                -col("num") * dec(lit(1000000L)), nullif(col("dxx"), dec(lit(0L)))))
              .cast("long").as("slope_x1e6"))
          .orderBy("nation")
      },
      Some(
        """WITH mn AS (SELECT min(CAST(o_orderdate AS DATE)) AS mnd FROM orders),
          |nw AS (SELECT n_name AS nation,
          |    CAST(CAST(datediff('day', mnd, CAST(o_orderdate AS DATE)) AS BIGINT)
          |      // 7 AS HUGEINT) AS x,
          |    CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS HUGEINT) AS y
          |  FROM orders JOIN customer ON c_custkey = o_custkey
          |  JOIN nation ON n_nationkey = c_nationkey
          |  CROSS JOIN mn
          |  GROUP BY 1, 2),
          |s AS (SELECT nation, count(*) AS kk, sum(x) AS sx, sum(y) AS sy,
          |    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
          |  FROM nw GROUP BY 1),
          |t AS (SELECT nation, kk,
          |    kk * sxy - sx * sy AS num,
          |    kk * sxx - sx * sx AS dxx,
          |    kk * syy - sy * sy AS dyy
          |  FROM s)
          |SELECT nation, CAST(kk AS BIGINT) AS n_weeks,
          |  CAST(num * num * 1000000 // nullif(dxx * dyy, 0) AS BIGINT) AS r2_x1e6,
          |  CAST(CASE WHEN num >= 0 THEN num * 1000000 // nullif(dxx, 0)
          |       ELSE -((-num) * 1000000 // nullif(dxx, 0)) END AS BIGINT)
          |    AS slope_x1e6
          |FROM t ORDER BY nation""".stripMargin))

  )
}
