package graft.api

/** DuckDB oracle SQL for the LLM-pipeline queries. Each statement
  * mirrors its Spark implementation expression-for-expression (same
  * regexes, same double math, same rounding) so results hash-match.
  */
object TextSql {

  private val scoreCols =
    """CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
      |    CAST(length(text) AS BIGINT) AS n_chars,
      |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS n_punct,
      |    CAST(len(regexp_extract_all(lower(text), '\b(the|of|and|to|a|in|is|it)\b')) AS BIGINT) AS s_en,
      |    CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|un)\b')) AS BIGINT) AS s_es,
      |    CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|von|ein)\b')) AS BIGINT) AS s_de,
      |    CAST(len(regexp_extract_all(lower(text), '\b(le|les|des|et|une|est)\b')) AS BIGINT) AS s_fr""".stripMargin

  /** Shared fragments — stats and curation must emit the SAME quality /
    * fingerprint expressions or the curation gate silently drifts when
    * the score weights change.
    */
  private val qualityExpr =
    """CAST(floor((least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.4
      |    + (CASE WHEN CAST(n_punct AS DOUBLE) / greatest(CAST(n_tokens AS DOUBLE), 1.0) <= 0.2 THEN 1.0
      |            ELSE 1.0 - CAST(n_punct AS DOUBLE) / greatest(CAST(n_tokens AS DOUBLE), 1.0) END) * 0.3
      |    + least(CAST(s_en AS DOUBLE) / greatest(CAST(n_tokens AS DOUBLE), 1.0) * 5.0, 1.0) * 0.3) * 10000) AS BIGINT)""".stripMargin

  private val fpExpr =
    """md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))"""

  private val langPredCase =
    """CASE WHEN s_en = greatest(s_en, s_es, s_de, s_fr) AND greatest(s_en, s_es, s_de, s_fr) > 0 THEN 'en'
      |     WHEN s_es = greatest(s_en, s_es, s_de, s_fr) AND greatest(s_en, s_es, s_de, s_fr) > 0 THEN 'es'
      |     WHEN s_de = greatest(s_en, s_es, s_de, s_fr) AND greatest(s_en, s_es, s_de, s_fr) > 0 THEN 'de'
      |     WHEN s_fr = greatest(s_en, s_es, s_de, s_fr) AND greatest(s_en, s_es, s_de, s_fr) > 0 THEN 'fr'
      |     ELSE 'und' END""".stripMargin

  val stats: String =
    s"""WITH s AS (
       |  SELECT doc_id, text,
       |    $scoreCols
       |  FROM documents)
       |SELECT doc_id, n_tokens, n_chars, n_punct,
       |  $qualityExpr AS quality,
       |  $langPredCase AS lang_pred,
       |  $fpExpr AS fp
       |FROM s ORDER BY doc_id""".stripMargin

  val langidEval: String =
    s"""WITH s AS (
       |  SELECT doc_id, lang, text,
       |    $scoreCols
       |  FROM documents),
       |p AS (SELECT lang, $langPredCase AS lang_pred FROM s)
       |SELECT lang, lang_pred, count(*) AS n FROM p
       |GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin

  /** End-to-end curation mirror: quality + language gates, then exact
    * dedup keeping the smallest doc_id per fingerprint — the composed
    * pipeline the text/dedup operators exist for.
    */
  def curation(minQuality: Long = 7000): String =
    s"""WITH s AS (
       |  SELECT doc_id, text,
       |    $scoreCols
       |  FROM documents),
       |t AS (
       |  SELECT doc_id,
       |    $qualityExpr AS quality,
       |    $langPredCase AS lang_pred,
       |    $fpExpr AS fp
       |  FROM s),
       |f AS (
       |  SELECT doc_id, quality,
       |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
       |  FROM t WHERE lang_pred = 'en' AND quality >= $minQuality)
       |SELECT doc_id, quality FROM f WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Per-language quality quota mirror: keep the top `perLang` docs by
    * (quality DESC, doc_id ASC) within each PREDICTED language — the
    * mixture-shaping selection a curation pipeline runs after scoring.
    * Same quality/langid expressions as stats/curation (shared
    * fragments), so the gate catches drift in either.
    */
  /** Curriculum-schedule mirror of `pipeline_curriculum`: per-source
    * quality quartile boundaries by exact integer rank selection (the
    * winsorize discipline — an actual data value at rank
    * ceil(n·k/4), never an interpolated percentile), then the
    * per-(source, stage) doc/token manifest. Same quality fragment as
    * stats/curation, so a score-weight change moves every gate
    * together.
    */
  def curriculum(stages: Int = 4): String = {
    require(stages == 4, "oracle is written for quartile stages")
    s"""WITH s AS (
       |  SELECT doc_id, source, text,
       |    $scoreCols
       |  FROM documents),
       |q AS (
       |  SELECT doc_id, source, n_tokens AS tok, $qualityExpr AS qual FROM s),
       |r AS (
       |  SELECT source, qual,
       |    row_number() OVER (PARTITION BY source ORDER BY qual, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY source) AS n
       |  FROM q),
       |t AS (
       |  SELECT source,
       |    min(CASE WHEN rn = (n + 3) // 4 THEN qual END) AS q1,
       |    min(CASE WHEN rn = (n * 2 + 3) // 4 THEN qual END) AS q2,
       |    min(CASE WHEN rn = (n * 3 + 3) // 4 THEN qual END) AS q3
       |  FROM r GROUP BY source)
       |SELECT q.source,
       |  CAST(CASE WHEN qual <= q1 THEN 0 WHEN qual <= q2 THEN 1
       |            WHEN qual <= q3 THEN 2 ELSE 3 END AS BIGINT) AS stage,
       |  count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS n_tokens,
       |  min(qual) AS min_q, max(qual) AS max_q
       |FROM q JOIN t ON t.source = q.source
       |GROUP BY 1, 2 ORDER BY q.source, stage""".stripMargin
  }

  /** Oracle mirror of TextOps.bpeMerges: `rounds` unrolled merge CTEs,
    * each re-segmenting the alnum-normalized vocab by the SAME
    * longest-first alternation (string_agg ORDER BY length DESC, pair —
    * the regex pattern is a scalar subquery, which DuckDB evaluates as
    * a per-row-constant dynamic pattern) and taking the most frequent
    * adjacent symbol pair with the lexicographic tie-break.
    */
  /** The wf + unrolled merge-round CTEs shared by [[bpeMerges]] and
    * [[bpeApply]] — one text so training cannot drift between gates.
    */
  private def bpeCtes(rounds: Int): String = {
    def roundCte(r: Int): String = {
      val pat =
        if (r == 1) "'.'"
        else {
          val prior = (1 until r).map(i => s"SELECT pair FROM r$i")
            .mkString(" UNION ALL ")
          s"(SELECT string_agg(pair, '|' ORDER BY length(pair) DESC, pair) || '|.' FROM ($prior))"
        }
      s"""r$r AS (
         |  SELECT pair, CAST(sum(f) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(list_transform(generate_series(1, len(sg)-1),
         |             i -> sg[i] || sg[i+1])) AS pair, f
         |    FROM (SELECT regexp_extract_all(w, $pat) AS sg, f FROM wf))
         |  GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1)""".stripMargin
    }
    s"""wf AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS f FROM (
       |    SELECT regexp_replace(unnest(regexp_split_to_array(lower(text), '\\s+')),
       |             '[^a-z0-9]', '', 'g') AS w
       |    FROM documents)
       |  WHERE length(w) >= 2 GROUP BY w),
       |${(1 to rounds).map(roundCte).mkString(",\n")}""".stripMargin
  }

  def bpeMerges(rounds: Int = 5): String = {
    val sel = (1 to rounds)
      .map(r => s"SELECT CAST($r AS BIGINT) AS round, pair, cnt FROM r$r")
      .mkString("\n UNION ALL ")
    s"""WITH ${bpeCtes(rounds)}
       |$sel ORDER BY round""".stripMargin
  }

  /** Oracle mirror of TextOps.bpeApply: train the same `rounds` merges
    * (shared CTEs), segment the vocab with the FINAL longest-first
    * alternation, and report the frequency-weighted usage of every
    * learned (multi-char) symbol.
    */
  def bpeApply(rounds: Int = 5, k: Int = 10): String = {
    val prior = (1 to rounds).map(i => s"SELECT pair FROM r$i")
      .mkString(" UNION ALL ")
    s"""WITH ${bpeCtes(rounds)},
       |pat AS (
       |  SELECT string_agg(pair, '|' ORDER BY length(pair) DESC, pair) || '|.' AS p
       |  FROM ($prior)),
       |seg AS (
       |  SELECT f, unnest(regexp_extract_all(w, (SELECT p FROM pat))) AS sym
       |  FROM wf)
       |SELECT sym, CAST(sum(f) AS BIGINT) AS cnt FROM seg
       |WHERE length(sym) > 1
       |GROUP BY sym ORDER BY cnt DESC, sym LIMIT $k""".stripMargin
  }

  /** Oracle mirror of TextOps.bpeFertility: same training CTEs, then a
    * per-(source, word) collapse segmented by the final alternation.
    */
  def bpeFertility(rounds: Int = 5): String = {
    val prior = (1 to rounds).map(i => s"SELECT pair FROM r$i")
      .mkString(" UNION ALL ")
    s"""WITH ${bpeCtes(rounds)},
       |pat AS (
       |  SELECT string_agg(pair, '|' ORDER BY length(pair) DESC, pair) || '|.' AS p
       |  FROM ($prior)),
       |wfs AS (
       |  SELECT source, w, CAST(count(*) AS BIGINT) AS f FROM (
       |    SELECT source,
       |      regexp_replace(unnest(regexp_split_to_array(lower(text), '\\s+')),
       |        '[^a-z0-9]', '', 'g') AS w
       |    FROM documents)
       |  WHERE length(w) >= 2 GROUP BY 1, 2),
       |seg AS (
       |  SELECT source, f,
       |    CAST(len(regexp_extract_all(w, (SELECT p FROM pat))) AS BIGINT) AS nseg
       |  FROM wfs)
       |SELECT source, CAST(sum(f) AS BIGINT) AS n_words,
       |  CAST(sum(f * nseg) AS BIGINT) AS n_bpe_tokens,
       |  CAST(sum(f * nseg) * 1000000 // sum(f) AS BIGINT) AS fertility_x1e6
       |FROM seg GROUP BY 1 ORDER BY 1""".stripMargin
  }

  def quotaSample(perLang: Int = 5): String =
    s"""WITH s AS (
       |  SELECT doc_id, text,
       |    $scoreCols
       |  FROM documents),
       |t AS (
       |  SELECT doc_id, $qualityExpr AS quality, $langPredCase AS lang_pred FROM s),
       |r AS (
       |  SELECT doc_id, lang_pred, quality,
       |    row_number() OVER (PARTITION BY lang_pred ORDER BY quality DESC, doc_id) AS rn
       |  FROM t)
       |SELECT lang_pred, doc_id, quality FROM r WHERE rn <= $perLang
       |ORDER BY lang_pred, doc_id""".stripMargin

  /** Stage-by-stage survivor counts of the curation pipeline (all →
    * langid → quality gate → exact dedup) — same shared fragments as
    * stats/curation, so the funnel drifts with them.
    */
  def curationFunnel(minQuality: Long = 7000): String =
    s"""WITH s AS (
       |  SELECT doc_id, text,
       |    $scoreCols
       |  FROM documents),
       |t AS (
       |  SELECT doc_id,
       |    $qualityExpr AS quality,
       |    $langPredCase AS lang_pred,
       |    $fpExpr AS fp
       |  FROM s),
       |c AS (SELECT count(*) AS n_all,
       |        sum(CASE WHEN lang_pred = 'en' THEN 1 ELSE 0 END) AS n_lang,
       |        sum(CASE WHEN lang_pred = 'en' AND quality >= $minQuality THEN 1 ELSE 0 END) AS n_q
       |      FROM t),
       |k AS (SELECT count(*) AS n_kept FROM (
       |        SELECT row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
       |        FROM t WHERE lang_pred = 'en' AND quality >= $minQuality)
       |      WHERE rn = 1)
       |SELECT stage, n_docs FROM (
       |  SELECT '0_all' AS stage, CAST(n_all AS BIGINT) AS n_docs FROM c
       |  UNION ALL SELECT '1_lang_en', CAST(n_lang AS BIGINT) FROM c
       |  UNION ALL SELECT '2_quality', CAST(n_q AS BIGINT) FROM c
       |  UNION ALL SELECT '3_dedup', CAST(n_kept AS BIGINT) FROM k)
       |ORDER BY stage""".stripMargin

  /** Multi-detector dedup funnel mirror (`pipeline_dedup_funnel`):
    * exact fingerprint keep-min, then the SHARED banded MinHash
    * candidate chain over the exact survivors (drop every pair's
    * larger id), then the winnowing chain over those survivors — each
    * stage's detector runs only on what the previous stage kept, and
    * every fragment is the same text as its standalone gate
    * (fpExpr / shinglesCte+minhashCandCtes / the dedupWinnow CTEs), so
    * the funnel cannot drift from the detectors it composes.
    */
  def dedupFunnel(w: Int = graft.ops.Dedup.WinnowW,
      minShared: Long = graft.ops.Dedup.WinnowMinShared): String = {
    val gram = "tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]"
    s"""WITH t0 AS (
       |  SELECT doc_id, text, source, $fpExpr AS fp,
       |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS nt
       |  FROM documents),
       |surv1 AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
       |    FROM t0) WHERE rn = 1),
       |docs AS (
       |  SELECT t0.doc_id, t0.text, t0.source FROM t0 JOIN surv1 USING (doc_id)),
       |$shinglesCte,
       |$minhashCandCtes,
       |surv2 AS (
       |  SELECT doc_id FROM surv1
       |  WHERE doc_id NOT IN (SELECT DISTINCT b FROM cand)),
       |wtoks AS (
       |  SELECT t.doc_id, t.tk FROM toks t JOIN surv2 USING (doc_id)),
       |whashes AS (
       |  SELECT doc_id,
       |    CASE WHEN len(tk) >= 3 THEN
       |      list_transform(generate_series(1, len(tk) - 2),
       |        i -> ${GraphSql.md5Hash60(gram)})
       |    ELSE CAST([] AS BIGINT[]) END AS hs
       |  FROM wtoks),
       |wfps AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    CASE WHEN len(hs) >= $w THEN
       |      list_transform(generate_series(1, len(hs) - ${w - 1}),
       |        i -> list_min(hs[i:i+${w - 1}]))
       |    WHEN len(hs) > 0 THEN [list_min(hs)]
       |    ELSE hs END)) AS fp
       |  FROM whashes),
       |wkept AS (
       |  SELECT doc_id, fp FROM wfps
       |  QUALIFY count(*) OVER (PARTITION BY fp) <= $bandCap),
       |wpairs AS (
       |  SELECT l.doc_id AS a, r.doc_id AS b
       |  FROM wkept l JOIN wkept r ON r.fp = l.fp AND l.doc_id < r.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= $minShared),
       |surv3 AS (
       |  SELECT doc_id FROM surv2
       |  WHERE doc_id NOT IN (SELECT DISTINCT b FROM wpairs))
       |SELECT stage, n_docs, n_tokens FROM (
       |  SELECT '0_all' AS stage, count(*) AS n_docs,
       |    CAST(sum(nt) AS BIGINT) AS n_tokens FROM t0
       |  UNION ALL SELECT '1_exact', count(*), CAST(sum(nt) AS BIGINT)
       |    FROM t0 JOIN surv1 USING (doc_id)
       |  UNION ALL SELECT '2_minhash', count(*), CAST(sum(nt) AS BIGINT)
       |    FROM t0 JOIN surv2 USING (doc_id)
       |  UNION ALL SELECT '3_winnow', count(*), CAST(sum(nt) AS BIGINT)
       |    FROM t0 JOIN surv3 USING (doc_id))
       |ORDER BY stage""".stripMargin
  }

  /** Planted-duplicate construction shared by the dedup oracles; mirrors
    * Queries.plantedDocs.
    */
  /** The planted-docs CTE under a caller-chosen name — for oracles that
    * nest a full cluster query (which already binds `docs`) and need a
    * second copy of the corpus (the pipelineClusterKeep discipline).
    */
  def plantCteRenamed(name: String): String =
    plantCte(exact = false).replaceFirst("docs AS", s"$name AS")

  private def plantCte(exact: Boolean): String = {
    val text = if (exact) "text" else "text || ' planted dup tail'"
    s"""docs AS (
       |  SELECT doc_id, text, source, lang FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000, $text, source, lang FROM documents WHERE doc_id < 50)""".stripMargin
  }

  /** Quality×duplication 2×2 interaction over the exact-plant corpus
    * (mirrors Queries `pipeline_quality_dup_matrix`): cells share the
    * SAME quality and fingerprint fragments as stats/curation, odds
    * ratio cross-multiplied exactly.
    */
  def qualityDupMatrix(minQuality: Long = 7000): String =
    s"""WITH ${plantCte(exact = true)},
       |s AS (SELECT doc_id, text, $scoreCols FROM docs),
       |t AS (SELECT doc_id, $qualityExpr AS quality, $fpExpr AS fp FROM s),
       |fam AS (SELECT fp, count(*) AS fn FROM t GROUP BY 1),
       |cell AS (SELECT CASE WHEN quality >= $minQuality THEN 1 ELSE 0 END AS hq,
       |    CASE WHEN fn > 1 THEN 1 ELSE 0 END AS dup
       |  FROM t JOIN fam USING (fp)),
       |c AS (SELECT count(*) AS n,
       |    CAST(sum(CASE WHEN hq = 1 AND dup = 0 THEN 1 ELSE 0 END) AS BIGINT) AS hq_clean,
       |    CAST(sum(CASE WHEN hq = 1 AND dup = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hq_dup,
       |    CAST(sum(CASE WHEN hq = 0 AND dup = 0 THEN 1 ELSE 0 END) AS BIGINT) AS lq_clean,
       |    CAST(sum(CASE WHEN hq = 0 AND dup = 1 THEN 1 ELSE 0 END) AS BIGINT) AS lq_dup
       |  FROM cell)
       |SELECT n, hq_clean, hq_dup, lq_clean, lq_dup,
       |  CAST(CAST(hq_dup AS HUGEINT) * lq_clean * 1000000
       |    // nullif(CAST(hq_clean AS HUGEINT) * lq_dup, 0) AS BIGINT)
       |    AS odds_x1e6
       |FROM c""".stripMargin

  val dedupExact: String =
    s"""WITH ${plantCte(exact = true)}
       |SELECT fp, count(*) AS n, min(doc_id) AS canonical_id
       |FROM (SELECT doc_id, $fpExpr AS fp FROM docs)
       |GROUP BY fp HAVING count(*) > 1 ORDER BY fp""".stripMargin

  /** 3-gram shingles per doc as a CTE over `docs`. */
  private val shinglesCte: String =
    """toks AS (SELECT doc_id, source, regexp_split_to_array(lower(text), '\s+') AS tk FROM docs),
      |sh AS (
      |  SELECT DISTINCT doc_id, source, u.s FROM toks,
      |    unnest(list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
      |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS u(s))""".stripMargin

  /** The frequent-band cap — the SAME constant the Spark guard uses
    * (Dedup.dropHotBands), quoted into every banded oracle's QUALIFY so
    * a boilerplate-heavy corpus drops the same hot bands on both sides.
    */
  private def bandCap: Int = graft.ops.Dedup.DefaultBandCap

  /** Signature + raw band keys over `sh` (through `bands0`), shared by
    * the self-join candidate chain below and the cross-corpus probe
    * (per-doc band keys depend only on the doc's own shingles, so
    * computing them jointly over a corpus∪batch frame equals computing
    * them per side). Shared by dedupMinhash and the Jaccard prefilter so
    * the oracles cannot drift from each other.
    */
  private def minhashSigBandCtes: String = {
    // k and bands derive from the SAME constants the Scala operators
    // default to (Dedup.OracleMinhashK/Bands) — one definition, zero
    // drift between the funnel, the standalone gates, and this chain
    val k = graft.ops.Dedup.OracleMinhashK
    val nb = graft.ops.Dedup.OracleMinhashBands
    val r = k / nb
    val mins = (0 until k).map(i =>
      s"min(substr(md5('${i / 2}#' || s), ${1 + (i % 2) * 16}, 16)) AS m$i").mkString(", ")
    val bands = (0 until nb).map { b =>
      val key = (b * r until (b + 1) * r).map(i => s"m$i").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($key) AS key FROM sigs"
    }.mkString("\n  UNION ALL ")
    s"""sigs AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |bands0 AS (
       |  $bands)""".stripMargin
  }

  /** Full banded candidate chain: [[minhashSigBandCtes]] plus the
    * count-over-window frequent-band cap (mirror of Dedup.dropHotBands)
    * and the distinct candidate pair set.
    */
  private def minhashCandCtes: String =
    s"""$minhashSigBandCtes,
       |bands AS (
       |  SELECT doc_id, band, key FROM bands0
       |  QUALIFY count(*) OVER (PARTITION BY band, key) <= $bandCap),
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id)""".stripMargin

  /** Banded candidate chain at the SCHEDULE-chosen frequent-band cap —
    * replays Dedup.containmentSchedule in SQL exactly as
    * [[dedupContainmentAuto]] does for the stop-shingle cap: cap =
    * clamp(8, 128, budget // n) over the SAME planted-corpus count the
    * Scala side reads (BIGINT floor division of non-negative values,
    * exact on both engines). Everything besides the QUALIFY bound is
    * [[minhashCandCtes]]'s text.
    */
  private def minhashCandCtesScheduled: String =
    s"""$minhashSigBandCtes,
       |capv AS (
       |  SELECT greatest(CAST(8 AS BIGINT), least(CAST(128 AS BIGINT),
       |    ${graft.ops.Dedup.ContainmentDfBudget} // count(*))) AS cap
       |  FROM docs),
       |bands AS (
       |  SELECT doc_id, band, key FROM bands0
       |  QUALIFY count(*) OVER (PARTITION BY band, key) <= (SELECT cap FROM capv)),
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id)""".stripMargin

  val dedupMinhash: String =
    s"""WITH ${plantCte(exact = false)},
       |$shinglesCte,
       |$minhashCandCtes
       |SELECT a, b FROM cand ORDER BY a, b""".stripMargin

  /** Cross-source duplication matrix mirror: the SAME banded candidate
    * chain as dedupMinhash (shared CTEs — the two cannot drift), each
    * pair mapped to its unordered source pair. */
  val dedupSourceMatrix: String =
    s"""WITH ${plantCte(exact = false)},
       |$shinglesCte,
       |$minhashCandCtes
       |SELECT least(da.source, db.source) AS src_a,
       |  greatest(da.source, db.source) AS src_b,
       |  count(*) AS n_pairs
       |FROM cand JOIN docs da ON da.doc_id = cand.a
       |          JOIN docs db ON db.doc_id = cand.b
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Incremental batch-vs-corpus mirror: band keys computed jointly
    * over corpus∪batch (identical per-doc values to per-side
    * computation), hot-band cap on the CORPUS side only, one
    * batch→corpus band join — the same semantics as
    * Dedup.crossCorpusMatches. Batch = the near-dup plants (+100000)
    * plus a deterministic 5% "re-crawl" slice of exact copies
    * (+200000), so the gate exercises both the near and the exact
    * collision path.
    */
  val dedupIncremental: String =
    s"""WITH docs AS (
       |  SELECT doc_id, text, source, lang FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000, text || ' planted dup tail', source, lang
       |  FROM documents WHERE doc_id < 50
       |  UNION ALL
       |  SELECT doc_id + 200000, text, source, lang
       |  FROM documents WHERE ${GraphSql.md5Hash60("CAST(doc_id AS VARCHAR)")} % 20 = 1),
       |$shinglesCte,
       |$minhashSigBandCtes,
       |cbands AS (
       |  SELECT doc_id, band, key FROM bands0 WHERE doc_id < 100000
       |  QUALIFY count(*) OVER (PARTITION BY band, key) <= $bandCap),
       |bbands AS (SELECT doc_id, band, key FROM bands0 WHERE doc_id >= 100000),
       |m AS (
       |  SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
       |  FROM bbands b JOIN cbands c ON c.band = b.band AND c.key = b.key)
       |SELECT batch_id, count(*) AS n_corpus_dups, min(corpus_id) AS first_dup
       |FROM m GROUP BY 1 ORDER BY 1""".stripMargin

  /** Fuzzy decontamination mirror — Dedup.contaminatedDocs over corpus
    * = (documents ≥ 10) ∪ paraphrased plants of the benchmark docs,
    * bench = documents < 10. Same joint band computation and
    * corpus-side QUALIFY cap as [[dedupIncremental]], aggregation
    * flipped to the corpus doc.
    */
  val decontaminateFuzzy: String =
    s"""WITH docs AS (
       |  SELECT doc_id, text, source, lang FROM documents WHERE doc_id >= 10
       |  UNION ALL
       |  SELECT doc_id + 300000, text || ' paraphrased tail', source, lang
       |  FROM documents WHERE doc_id < 10
       |  UNION ALL
       |  SELECT doc_id, text, source, lang FROM documents WHERE doc_id < 10),
       |$shinglesCte,
       |$minhashSigBandCtes,
       |cbands AS (
       |  SELECT doc_id, band, key FROM bands0 WHERE doc_id >= 10
       |  QUALIFY count(*) OVER (PARTITION BY band, key) <= $bandCap),
       |bbands AS (SELECT doc_id, band, key FROM bands0 WHERE doc_id < 10),
       |m AS (
       |  SELECT DISTINCT c.doc_id AS corpus_id, b.doc_id AS bench_id
       |  FROM cbands c JOIN bbands b ON b.band = c.band AND b.key = c.key)
       |SELECT corpus_id, count(*) AS n_bench_hits, min(bench_id) AS first_bench
       |FROM m GROUP BY 1 ORDER BY 1""".stripMargin

  /** Distinct-trigram compressibility proxy — the cross-engine-gated
    * twin of the deflate signal (DuckDB cannot deflate): within-doc
    * distinct/total word-trigram ratio in integer micro-units, same
    * per-doc-scalar → per-source stats shape as textCompressionRatio's
    * Spark side. `//` floors but both operands are positive, so it
    * equals Spark's truncating `div`.
    */
  val compressibilityProxy: String =
    """WITH t AS (
      |  SELECT source, regexp_split_to_array(lower(text), '\s+') AS tk
      |  FROM documents),
      |g AS (
      |  SELECT source,
      |    list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
      |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS shs
      |  FROM t),
      |d AS (
      |  SELECT source,
      |    CAST(len(list_distinct(shs)) AS BIGINT) AS u,
      |    CAST(len(shs) AS BIGINT) AS tt
      |  FROM g WHERE len(shs) > 0)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(u * 1000000 // tt) // count(*) AS BIGINT) AS mean_uniq_x1e6,
      |  CAST(min(u * 1000000 // tt) AS BIGINT) AS min_uniq_x1e6,
      |  CAST(max(u * 1000000 // tt) AS BIGINT) AS max_uniq_x1e6
      |FROM d GROUP BY source ORDER BY source""".stripMargin

  /** Duplicated n-gram fraction per source (the dedup-health metric of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better"): the pooled share of distinct-per-doc shingles whose
    * document frequency exceeds 1. Same shingle CTE as every dedup
    * oracle; the fraction is an exact integer floor-division on both
    * engines.
    */
  val dupNgramFraction: String =
    s"""WITH ${plantCte(exact = false)},
       |$shinglesCte,
       |d AS (
       |  SELECT source, doc_id,
       |    count(*) OVER (PARTITION BY s) AS dfreq
       |  FROM sh)
       |SELECT source,
       |  count(DISTINCT doc_id) AS n_docs,
       |  CAST(sum(CASE WHEN dfreq > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_shingles,
       |  count(*) AS total_shingles,
       |  CAST(sum(CASE WHEN dfreq > 1 THEN 1 ELSE 0 END) * 1000000
       |       // count(*) AS BIGINT) AS dup_frac_x1e6
       |FROM d GROUP BY source ORDER BY source""".stripMargin

  /** Prefilter-quality evaluation: recall/precision of the capped
    * banded-MinHash candidates vs the TRUE jaccard>=0.5 pair set, on a
    * deterministic 20% audit sample keyed by the BASE doc id (plants
    * follow their parents, so planted pairs stay evaluable). The truth
    * side needs no all-pairs scan — a pair at jaccard>=0.5 must share a
    * shingle, so the exhaustive truth comes from the UNCAPPED shingle
    * inverted-index join; the sample bounds its Σdf² volume.
    */
  val dedupBandEval: String =
    s"""WITH ${plantCte(exact = false)},
       |sampled AS (SELECT * FROM docs
       |  WHERE ${GraphSql.md5Hash60("CAST(doc_id % 100000 AS VARCHAR)")} % 5 = 0),
       |${shinglesCte.replace("FROM docs", "FROM sampled")},
       |$minhashCandCtes,
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS i
       |  FROM sh l JOIN sh r ON r.s = l.s AND l.doc_id < r.doc_id
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT a, b FROM (
       |    SELECT a, b, round(CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE), 6) AS jaccard
       |    FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b)
       |  WHERE jaccard >= 0.5),
       |j AS (SELECT
       |        CASE WHEN t.a IS NOT NULL THEN 1 ELSE 0 END AS is_t,
       |        CASE WHEN c.a IS NOT NULL THEN 1 ELSE 0 END AS is_c
       |      FROM truth t FULL OUTER JOIN cand c ON c.a = t.a AND c.b = t.b)
       |SELECT CAST(sum(is_t) AS BIGINT) AS n_true,
       |  CAST(sum(is_c) AS BIGINT) AS n_cand,
       |  CAST(sum(is_t * is_c) AS BIGINT) AS n_hit,
       |  CAST(floor(sum(is_t * is_c) * 10000 / sum(is_t)) AS BIGINT) AS recall_x1e4,
       |  CAST(floor(sum(is_t * is_c) * 10000 / sum(is_c)) AS BIGINT) AS precision_x1e4
       |FROM j""".stripMargin

  /** Jaccard histogram of the banded candidates at the schedule-chosen
    * band cap (bucket = floor(j·10), capped at 9 so j = 1.0 lands with
    * the 0.9s) — the declared `dedup_jaccard_histogram` mirror (Spark
    * side: Dedup.ngramJaccardPairsAuto), the threshold-tuning readout
    * over the same candidate/verify CTEs as the Jaccard gate.
    */
  def dedupJaccardHistogramAuto: String =
    s"""WITH ${plantCte(exact = false)},
       |$shinglesCte,
       |$minhashCandCtesScheduled,
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT c.a, c.b, count(*) AS i
       |  FROM cand c JOIN sh l ON l.doc_id = c.a JOIN sh r ON r.doc_id = c.b AND r.s = l.s
       |  GROUP BY 1, 2),
       |jac AS (
       |  SELECT round(CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE), 6) AS jaccard
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = a
       |  JOIN sizes sb ON sb.doc_id = b)
       |SELECT least(9, CAST(floor(jaccard * 10) AS BIGINT)) AS j_bucket,
       |  count(*) AS n_pairs
       |FROM jac GROUP BY 1 ORDER BY j_bucket""".stripMargin

  /** Jaccard over MinHash-banded candidates at the schedule-chosen band
    * cap — the declared `dedup_ngram_jaccard` mirror (Spark side:
    * Dedup.ngramJaccardPairsAuto): candidates from the capped bands,
    * exact Jaccard verified by joining the pair list back on the
    * shingle rows.
    */
  def dedupNgramJaccardAuto: String =
    s"""WITH ${plantCte(exact = false)},
       |$shinglesCte,
       |$minhashCandCtesScheduled,
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT c.a, c.b, count(*) AS i
       |  FROM cand c JOIN sh l ON l.doc_id = c.a JOIN sh r ON r.doc_id = c.b AND r.s = l.s
       |  GROUP BY 1, 2)
       |SELECT a, b, jaccard FROM (
       |  SELECT a, b, round(CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE), 6) AS jaccard
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = a
       |  JOIN sizes sb ON sb.doc_id = b)
       |WHERE jaccard >= 0.5 ORDER BY a, b""".stripMargin

  /** Contained-quote plant shared with Queries.plantedQuoteDocs: docs
    * with doc_id < 20 re-appended under doc_id+200000 with text = the
    * first 40 whitespace tokens of the parent. A 38-shingle quote fully
    * embedded in its parent has containment 1.0 but Jaccard ≈
    * 38/|parent shingles| — the fixture that makes the containment
    * operator's signal distinct from every Jaccard-estimating detector.
    */
  private val plantQuoteCte: String =
    """docs AS (
      |  SELECT doc_id, text, source, lang FROM documents
      |  UNION ALL
      |  SELECT doc_id + 200000,
      |    array_to_string(list_slice(regexp_split_to_array(text, '\s+'), 1, 40), ' '),
      |    source, lang
      |  FROM documents WHERE doc_id < 20)""".stripMargin

  /** Containment mirror of Dedup.containmentPairs at the SCHEDULE-chosen
    * stop-shingle cap — replays Dedup.containmentSchedule in SQL: cap =
    * clamp(8, 128, budget // n) over the SAME corpus count the Scala
    * side reads, as a one-row CTE the QUALIFY compares against (BIGINT
    * floor division of non-negative values is exact on both engines, so
    * the schedule cannot diverge by a ulp). After the cap: intersections
    * via the shingle-keyed inverted-index join, sizes over the SAME
    * kept-shingle space, min-denominator ratio and smaller-side
    * contained_id. The shingle width n is pinned to 3 by shinglesCte.
    */
  def dedupContainmentAuto(threshold: Double = 0.8): String =
    s"""WITH $plantQuoteCte,
       |$shinglesCte,
       |capv AS (
       |  SELECT greatest(CAST(8 AS BIGINT), least(CAST(128 AS BIGINT),
       |    ${graft.ops.Dedup.ContainmentDfBudget} // count(*))) AS cap
       |  FROM docs),
       |shf AS (
       |  SELECT doc_id, s FROM sh
       |  QUALIFY count(*) OVER (PARTITION BY s) <= (SELECT cap FROM capv)),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY doc_id),
       |inter AS (
       |  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS i
       |  FROM shf l JOIN shf r ON r.s = l.s AND l.doc_id < r.doc_id
       |  GROUP BY 1, 2)
       |SELECT a, b, containment, contained_id FROM (
       |  SELECT a, b,
       |    round(CAST(i AS DOUBLE) / CAST(least(sa.sz, sb.sz) AS DOUBLE), 6) AS containment,
       |    CASE WHEN sa.sz <= sb.sz THEN a ELSE b END AS contained_id
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = a
       |  JOIN sizes sb ON sb.doc_id = b)
       |WHERE containment >= $threshold ORDER BY a, b""".stripMargin

  /** Oracle mirror of Dedup.exactSubstringRunsAuto + the per-source
    * span-mass rollup, over a planted split-copy fixture: docs
    * `doc_id < plantMax` get a planted sibling `doc_id + 400000` with
    * source 'planted' and text = first-40-tokens(doc_id) ⧺
    * first-40-tokens(doc_id + plantMax) — each planted doc shares one
    * ~40-token verbatim run with EACH parent while its whole-doc
    * Jaccard to either stays ~0.5 (below MinHash-banding recall at the
    * declared thresholds), the configuration where only span-level
    * exact matching reports the duplication. The CTEs replay the exact
    * pipeline: positioned n-gram 60-bit md5 hashes, the
    * containmentSchedule stop-shingle cap on DISTINCT-doc df, the
    * h-keyed inverted self-join, diagonal gap-islands
    * (grp = pa − row_number over (a, b, diag)), the run-length floor,
    * and the both-sides per-source rollup. Registration must pass the
    * SAME (n, minRunTokens) to the Scala operator or the compare
    * silently diverges.
    */
  def dedupExactSubstring(n: Int = 5, minRunTokens: Int = 15,
      plantMax: Long = 12L): String = {
    val gram = (0 until n).map(j => s"tk[i+$j]").mkString(" || ' ' || ")
    s"""WITH pref AS (
       |  SELECT doc_id, array_to_string(
       |    list_slice(regexp_split_to_array(text, '\\s+'), 1, 40), ' ') AS p40
       |  FROM documents WHERE doc_id < ${2 * plantMax}),
       |docs AS (
       |  SELECT doc_id, source, text FROM documents
       |  UNION ALL
       |  SELECT a.doc_id + 400000, 'planted', a.p40 || ' ' || b.p40
       |  FROM pref a JOIN pref b ON b.doc_id = a.doc_id + $plantMax
       |  WHERE a.doc_id < $plantMax),
       |capv AS (
       |  SELECT greatest(CAST(8 AS BIGINT), least(CAST(128 AS BIGINT),
       |    ${graft.ops.Dedup.ContainmentDfBudget} // count(*))) AS cap
       |  FROM docs),
       |toks AS (
       |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS tk FROM docs),
       |pos AS (
       |  SELECT doc_id, i AS pos, ${GraphSql.md5Hash60(gram)} AS h
       |  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - ${n - 1})) AS i
       |        FROM toks WHERE len(tk) >= $n)),
       |keph AS (
       |  SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS df FROM pos GROUP BY h)
       |  WHERE df <= (SELECT cap FROM capv)),
       |kept AS (SELECT pos.* FROM pos JOIN keph USING (h)),
       |m AS (
       |  SELECT l.doc_id AS a, r.doc_id AS b, l.pos AS pa, r.pos AS pb
       |  FROM kept l JOIN kept r ON r.h = l.h AND l.doc_id < r.doc_id),
       |runs AS (
       |  SELECT a, b, count(*) + ${n - 1} AS run_tokens
       |  FROM (
       |    SELECT a, b, diag,
       |      pa - row_number() OVER (PARTITION BY a, b, diag ORDER BY pa) AS grp
       |    FROM (SELECT a, b, pa, pb, pa - pb AS diag FROM m))
       |  GROUP BY a, b, diag, grp
       |  HAVING count(*) + ${n - 1} >= $minRunTokens),
       |perdoc AS (
       |  SELECT a AS doc_id, run_tokens FROM runs
       |  UNION ALL SELECT b, run_tokens FROM runs)
       |SELECT d.source,
       |  CAST(count(DISTINCT p.doc_id) AS BIGINT) AS n_docs_dup,
       |  CAST(count(*) AS BIGINT) AS n_doc_runs,
       |  CAST(max(p.run_tokens) AS BIGINT) AS max_run_tokens,
       |  CAST(sum(p.run_tokens) AS BIGINT) AS dup_tokens
       |FROM perdoc p JOIN docs d USING (doc_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Oracle mirror of Dedup.winnowPairs over a planted split-copy
    * fixture: docs `doc_id < plantMax` get a planted sibling
    * `doc_id + 300000` whose text is first-30-tokens(doc_id) ⧺
    * first-30-tokens(doc_id + plantMax) — one 30-token run shared with
    * EACH parent while whole-doc Jaccard vs either stays low, pinning
    * the local-overlap capability (MinHash banding would not propose
    * these pairs; containment only sees the asymmetric one). The CTEs
    * replay the exact pipeline: 3-gram 60-bit md5 hashes per position,
    * window-of-w minima (global min when 1 ≤ hashes < w), per-doc
    * distinct, df-capped inverted-index self-join, shared-count
    * threshold. Registration must pass the SAME (n=3, w, minShared,
    * maxFpDf) to the Scala operator or the compare silently diverges.
    */
  def dedupWinnow(w: Int = graft.ops.Dedup.WinnowW,
      minShared: Long = graft.ops.Dedup.WinnowMinShared,
      maxFpDf: Int = graft.ops.Dedup.DefaultBandCap,
      plantMax: Long = 10L): String = {
    val gram = "tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]"
    s"""WITH pref AS (
       |  SELECT doc_id, array_to_string(
       |    list_slice(regexp_split_to_array(text, '\\s+'), 1, 30), ' ') AS p30
       |  FROM documents WHERE doc_id < ${2 * plantMax}),
       |docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT a.doc_id + 300000, a.p30 || ' ' || b.p30
       |  FROM pref a JOIN pref b ON b.doc_id = a.doc_id + $plantMax
       |  WHERE a.doc_id < $plantMax),
       |toks AS (
       |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS tk FROM docs),
       |hashes AS (
       |  SELECT doc_id,
       |    CASE WHEN len(tk) >= 3 THEN
       |      list_transform(generate_series(1, len(tk) - 2),
       |        i -> ${GraphSql.md5Hash60(gram)})
       |    ELSE CAST([] AS BIGINT[]) END AS hs
       |  FROM toks),
       |fps AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    CASE WHEN len(hs) >= $w THEN
       |      list_transform(generate_series(1, len(hs) - ${w - 1}),
       |        i -> list_min(hs[i:i+${w - 1}]))
       |    WHEN len(hs) > 0 THEN [list_min(hs)]
       |    ELSE hs END)) AS fp
       |  FROM hashes),
       |kept AS (
       |  SELECT doc_id, fp FROM fps
       |  QUALIFY count(*) OVER (PARTITION BY fp) <= $maxFpDf)
       |SELECT l.doc_id AS a, r.doc_id AS b, CAST(count(*) AS BIGINT) AS shared
       |FROM kept l JOIN kept r ON r.fp = l.fp AND l.doc_id < r.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= $minShared
       |ORDER BY a, b""".stripMargin
  }

  /** ±1 sign-LSH hyperplanes from the parity of md5's first hex nibble
    * (plane family t·bits+j over dims 0..dim-1) — the engine-portable
    * construction Similarity.planeSign uses, so buckets replay
    * bit-for-bit. Used by the simAnnLsh mirrors.
    */
  private def lshPlanesCte(tables: Int = 8, bits: Int = 6, dim: Int = 64): String =
    s"""planes AS (
       |  SELECT t.t, j.j,
       |    list_transform(generate_series(0, ${dim - 1}), i ->
       |      CASE WHEN (strpos('0123456789abcdef',
       |             substr(md5(CAST(t.t * $bits + j.j AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1)) - 1) % 2 = 0
       |           THEN 1.0 ELSE -1.0 END) AS p
       |  FROM (SELECT unnest(generate_series(0, ${tables - 1})) AS t) t,
       |       (SELECT unnest(generate_series(0, ${bits - 1})) AS j) j)""".stripMargin

  /** (vec_id, table, bucket) over `v` and `planes`: bucket = Σ 2^j over
    * non-negative plane dots, matching Similarity.lshBucket.
    */
  private def lshBucketsCte: String =
    """buckets AS (
      |  SELECT vec_id, t AS tbl,
      |    CAST(sum(CASE WHEN list_dot_product(e, p) >= 0
      |             THEN CAST(1 AS BIGINT) << CAST(j AS INT) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM v CROSS JOIN planes GROUP BY vec_id, t)""".stripMargin

  /** Candidate-then-verify tail shared by the embedding near-dup
    * mirrors: (table, bucket) self-join — the same keyed join the Spark
    * plan runs (no all-pairs on either side) — then the exact cosine
    * verifies each distinct pair.
    */
  private def dedupEmbeddingTail(threshold: Double): String =
    s"""cand AS (
       |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |  FROM buckets x JOIN buckets y
       |    ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id)
       |SELECT a, b, cos FROM (
       |  SELECT c.a, c.b,
       |    round(list_dot_product(x.e, y.e)
       |      / (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e))), 6) AS cos
       |  FROM cand c JOIN v x ON x.vec_id = c.a JOIN v y ON y.vec_id = c.b)
       |WHERE cos >= $threshold ORDER BY a, b""".stripMargin

  /** Embedding near-dup mirror at SCHEDULE-chosen knobs — replays
    * Dedup.lshSchedule in SQL (integer arithmetic on both sides, so no
    * float-log divergence): bits = smallest k with 2^k ≥ ⌈n/20⌉ clamped
    * to [4,12], tables = min(64, 8·2^⌊max(0,(bits-6))/2⌋). The planes
    * CTE generates the full (64-table, 13-bit) grid and filters to the
    * scheduled knobs, because generate_series bounds must be constant;
    * plane ids stay t·bits+j, matching Similarity.lshBucket's family at
    * the scheduled bits.
    */
  private def dedupEmbeddingAutoPrefix(where: String = ""): String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings$where),
       |kb AS (
       |  SELECT least(12, greatest(4,
       |    (SELECT min(k) FROM (SELECT unnest(generate_series(0, 40)) AS k) ks
       |     WHERE (CAST(1 AS BIGINT) << CAST(k AS INT)) >=
       |       (SELECT (count(*) + 19) // 20 FROM v)))) AS bits),
       |knobs AS (
       |  SELECT bits,
       |    least(CAST(64 AS BIGINT),
       |      CAST(8 AS BIGINT) << CAST(greatest(0, (bits - 6) // 2) AS INT)) AS tables
       |  FROM kb),
       |planes AS (
       |  SELECT t.t, j.j,
       |    list_transform(generate_series(0, 63), i ->
       |      CASE WHEN (strpos('0123456789abcdef',
       |             substr(md5(CAST(t.t * k.bits + j.j AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1)) - 1) % 2 = 0
       |           THEN 1.0 ELSE -1.0 END) AS p
       |  FROM knobs k,
       |       (SELECT unnest(generate_series(0, 63)) AS t) t,
       |       (SELECT unnest(generate_series(0, 12)) AS j) j
       |  WHERE t.t < k.tables AND j.j < k.bits),
       |$lshBucketsCte""".stripMargin

  val dedupEmbeddingAuto: String =
    s"""${dedupEmbeddingAutoPrefix()},
       |${dedupEmbeddingTail(0.45)}""".stripMargin

  /** Cosine histogram over the schedule-knob candidate pairs — the
    * threshold-tuning readout (mirror of dedupJaccardHistogramAuto's
    * role for MinHash): same prefix CTEs as dedupEmbeddingAuto, every
    * distinct candidate pair scored, bucketed by floor(cos·10) with the
    * 1.0 endpoint folded into bucket 9. Runs on a deterministic 50%
    * vec-id hash sample (same audit-sample discipline as
    * dedupBandEval): unlike the declared near-dup query — whose
    * threshold prunes candidates before the distinct — the histogram
    * must score EVERY candidate pair, a cost quadratic in bucket
    * occupancy that the sample bounds to a quarter; the knob schedule
    * is computed on the sampled count, so the readout is
    * self-consistent.
    */
  val dedupEmbeddingHistogram: String =
    s"""${dedupEmbeddingAutoPrefix(
        s" WHERE ${GraphSql.md5Hash60("CAST(vec_id AS VARCHAR)")} % 2 = 0")},
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |  FROM buckets x JOIN buckets y
       |    ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
       |scored AS (
       |  SELECT round(list_dot_product(x.e, y.e)
       |      / (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e))), 6) AS cos
       |  FROM cand c JOIN v x ON x.vec_id = c.a JOIN v y ON y.vec_id = c.b)
       |SELECT least(9, CAST(floor(cos * 10) AS BIGINT)) AS cos_bucket,
       |  count(*) AS n_pairs
       |FROM scored GROUP BY 1 ORDER BY cos_bucket""".stripMargin

  val simCosineTopk: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id IN (0, 1, 2)),
      |scored AS (
      |  SELECT query_id, vec_id,
      |    round(list_dot_product(e, qe)
      |      / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe))), 6) AS cos
      |  FROM v CROSS JOIN q WHERE vec_id <> query_id),
      |r AS (SELECT query_id, vec_id, cos,
      |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
      |      FROM scored)
      |SELECT query_id, vec_id, cos, CAST(rnk AS INT) AS rnk FROM r
      |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin

  /** Banded SimHash pairs — mirrors the Spark plan structurally: 4×16-bit
    * bands (exhaustive at Hamming <= 3 by pigeonhole), the
    * frequent-band cap (same QUALIFY mirror as dedupMinhash — a
    * boilerplate band is dropped on BOTH sides), then the Hamming
    * verify on band-collision candidates. Token hashes are the 60-bit
    * md5 family, mirrored bit-for-bit.
    */
  val dedupSimhash: String =
    s"""WITH ${plantCte(exact = false)},
       |toks AS (
       |  SELECT doc_id, w, count(*) AS cnt FROM (
       |    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
       |    FROM docs)
       |  WHERE w <> '' GROUP BY doc_id, w),
       |th AS (
       |  SELECT doc_id, cnt, ${GraphSql.md5Hash60("w")} AS h
       |  FROM toks),
       |bits AS (
       |  SELECT doc_id, g.b AS b,
       |    sum(CASE WHEN (h >> CAST(g.b AS INT)) & 1 = 1 THEN cnt ELSE -cnt END) AS s
       |  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) g
       |  GROUP BY doc_id, g.b),
       |sh AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << CAST(b AS INT)
       |             ELSE 0 END) AS BIGINT) AS h
       |  FROM bits GROUP BY doc_id),
       |bands0 AS (
       |  SELECT doc_id, h, g.b AS band, (h >> CAST(g.b * 16 AS INT)) & 65535 AS key
       |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) g),
       |bands AS (
       |  SELECT doc_id, h, band, key FROM bands0
       |  QUALIFY count(*) OVER (PARTITION BY band, key) <= $bandCap)
       |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x JOIN bands y
       |  ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
       |  AND bit_count(xor(x.h, y.h)) <= 3
       |ORDER BY a, b""".stripMargin

  /** Sign-LSH top-k, mirrored end-to-end: ±1 hyperplanes from the parity
    * of md5's first hex nibble (plane family t·6+j over dims 0..63),
    * bucket = Σ 2^j over non-negative plane dots, candidates share a
    * (table, bucket), scored by cosine and ranked. list_dot_product
    * accumulates left-to-right, matching the codegen'd Spark expression.
    */
  val simAnnLsh: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |${lshPlanesCte()},
      |$lshBucketsCte,
      |q AS (SELECT vec_id AS query_id, tbl, bucket FROM buckets WHERE vec_id IN (0, 1, 2)),
      |cand AS (
      |  SELECT DISTINCT q.query_id, b.vec_id
      |  FROM buckets b JOIN q ON b.tbl = q.tbl AND b.bucket = q.bucket
      |  WHERE b.vec_id <> q.query_id),
      |scored AS (
      |  SELECT c.query_id, c.vec_id,
      |    round(list_dot_product(x.e, y.e)
      |      / (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e))), 6) AS cos
      |  FROM cand c JOIN v x ON x.vec_id = c.vec_id JOIN v y ON y.vec_id = c.query_id),
      |r AS (SELECT query_id, vec_id, cos,
      |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
      |      FROM scored)
      |SELECT query_id, vec_id, cos, CAST(rnk AS INT) AS rnk FROM r
      |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin

  /** Multi-probe sign-LSH mirror: margins (the per-plane dot products)
    * are computed once per (vec_id, table, plane) and reused for BOTH
    * the bucket bits and the probe ordering — exactly the reuse the
    * Spark expressions compile to. Probes = home bucket + the buckets
    * reached by flipping the 2 lowest-(|margin|, plane-index) planes;
    * 4 tables instead of simAnnLsh's 8 (the operator's point: neighbor
    * probes buy back the recall of the missing tables at half the
    * index).
    */
  val simAnnMultiprobe: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |${lshPlanesCte(tables = 4)},
       |md AS (
       |  SELECT vec_id, t, j, list_dot_product(e, p) AS d
       |  FROM v CROSS JOIN planes),
       |buckets AS (
       |  SELECT vec_id, t AS tbl,
       |    CAST(sum(CASE WHEN d >= 0
       |             THEN CAST(1 AS BIGINT) << CAST(j AS INT) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM md GROUP BY vec_id, t),
       |qf AS (
       |  SELECT vec_id, t, j,
       |    row_number() OVER (PARTITION BY vec_id, t ORDER BY abs(d), j) AS rnk
       |  FROM md WHERE vec_id IN (0, 1, 2)),
       |qprobes AS (
       |  SELECT vec_id AS query_id, tbl, bucket
       |  FROM buckets WHERE vec_id IN (0, 1, 2)
       |  UNION ALL
       |  SELECT q.vec_id, q.t, xor(b.bucket, CAST(1 AS BIGINT) << CAST(q.j AS INT))
       |  FROM qf q JOIN buckets b ON b.vec_id = q.vec_id AND b.tbl = q.t
       |  WHERE q.rnk <= 2),
       |cand AS (
       |  SELECT DISTINCT p.query_id, c.vec_id
       |  FROM buckets c JOIN qprobes p ON c.tbl = p.tbl AND c.bucket = p.bucket
       |  WHERE c.vec_id <> p.query_id),
       |scored AS (
       |  SELECT c.query_id, c.vec_id,
       |    round(list_dot_product(x.e, y.e)
       |      / (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e))), 6) AS cos
       |  FROM cand c JOIN v x ON x.vec_id = c.vec_id JOIN v y ON y.vec_id = c.query_id),
       |r AS (SELECT query_id, vec_id, cos,
       |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
       |      FROM scored)
       |SELECT query_id, vec_id, cos, CAST(rnk AS INT) AS rnk FROM r
       |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin

  /** ANN recall report mirror: recall@10 of the sign-LSH path against
    * the brute-force baseline per query id — the two existing mirrors
    * composed as subqueries, so drift in EITHER pipeline breaks this
    * gate too.
    */
  val simAnnRecall: String =
    s"""WITH e AS (SELECT query_id, vec_id FROM ($simCosineTopk)),
       |a AS (SELECT query_id, vec_id FROM ($simAnnLsh))
       |SELECT e.query_id,
       |  CAST(count(a.vec_id) AS BIGINT) AS hits,
       |  CAST(count(a.vec_id) * 10 AS BIGINT) AS recall_pct
       |FROM e LEFT JOIN a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
       |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin

  /** Fixed-point IVF mirror: scaled BIGINT vectors, integer squared-L2
    * argmin assignment (ties to the lowest cell), floor-of-double-mean
    * centroid updates, `iters` unrolled Lloyd rounds, then nprobe
    * probing and the exact cosine tail. Every step is order-free, so it
    * matches Similarity.ivfFixedPointTopK bit-for-bit.
    */
  private def ivfDistExpr(q: String, c: String, dim: Int): String =
    s"""list_reduce(list_transform(generate_series(1, $dim),
       |      i -> ($q[i] - $c[i]) * ($q[i] - $c[i])), (a, b) -> a + b)""".stripMargin

  /** The unrolled fixed-point Lloyd trainer CTEs (v, c0, rounds, afinal)
    * shared by [[simAnnIvfExact]] and [[dedupSemantic]] — the mirror of
    * Similarity's fpTrainCentroids + final assignment, one text so the
    * two oracles cannot drift.
    */
  private def ivfTrainCtes(nlist: Int, iters: Int, dim: Int): String =
    ivfTrainCtesExpr(nlist.toString, iters, dim)

  /** As [[ivfTrainCtes]] but the cell-count cutoff is an arbitrary SQL
    * expression — what lets a knob SCHEDULE (nlist computed from
    * count(*) in a preceding CTE) replay inside the oracle, the same
    * discipline as dedupEmbeddingAuto's bits/tables.
    */
  private def ivfTrainCtesExpr(nlistExpr: String, iters: Int, dim: Int): String = {
    def distExpr(q: String, c: String): String = ivfDistExpr(q, c, dim)
    val rounds = (1 to iters).map { r =>
      s"""a$r AS MATERIALIZED (
         |  SELECT vec_id, q, cell FROM (
         |    SELECT v.vec_id, v.q, c.cell,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        ${distExpr("v.q", "c.c")}, c.cell) AS rn
         |    FROM v CROSS JOIN c${r - 1} c) WHERE rn = 1),
         |m$r AS MATERIALIZED (
         |  SELECT cell, g.i AS i,
         |    CAST(floor(CAST(sum(q[g.i]) AS DOUBLE) / count(*)) AS BIGINT) AS m
         |  FROM a$r CROSS JOIN (SELECT unnest(generate_series(1, $dim)) AS i) g
         |  GROUP BY cell, g.i),
         |c$r AS MATERIALIZED (
         |  SELECT p.cell, coalesce(u.c, p.c) AS c
         |  FROM c${r - 1} p LEFT JOIN
         |    (SELECT cell, list(m ORDER BY i) AS c FROM m$r GROUP BY cell) u
         |  ON u.cell = p.cell)""".stripMargin
    }.mkString(",\n")
    s"""v AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(floor(x * 1000000) AS BIGINT)) AS q
       |  FROM embeddings),
       |c0 AS MATERIALIZED (
       |  SELECT cell, c FROM (
       |    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, q AS c
       |    FROM v)
       |  WHERE cell < ($nlistExpr)),
       |$rounds,
       |afinal AS MATERIALIZED (
       |  -- candidates must come from a re-assignment against the FINAL
       |  -- centroids (the Spark side assigns after the training loop);
       |  -- a$iters above was computed against c${iters - 1} inside the
       |  -- last training round
       |  SELECT vec_id, cell FROM (
       |    SELECT v.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |        ${distExpr("v.q", "c.c")}, c.cell) AS rn
       |    FROM v CROSS JOIN c$iters c) WHERE rn = 1)""".stripMargin
  }

  /** Oracle mirror of Similarity.pqError: per-subspace unrolled
    * fixed-point Lloyd CTEs (the ivfTrainCtes shape, namespaced per
    * subspace and run over the SLICED fixed-point list), then the
    * per-subspace abs-reconstruction-error report. Integral division
    * and BIGINT casts keep the pandas-mode compare exact.
    */
  /** Per-subspace PQ training CTEs (vs$s slice, c0s$s init, unrolled
    * Lloyd rounds, afs$s final assignment) — shared by [[pqError]] and
    * [[dedupPqCodes]] so both oracles train bit-identically.
    */
  private def pqSubspaceCtes(s: Int, ksub: Int, iters: Int, sub: Int): String = {
    def distExpr(q: String, c: String): String = ivfDistExpr(q, c, sub)
    val lo = s * sub
    val rounds = (1 to iters).map { r =>
      s"""a${r}s$s AS MATERIALIZED (
         |  SELECT vec_id, q, cell FROM (
         |    SELECT v.vec_id, v.q, c.cell,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        ${distExpr("v.q", "c.c")}, c.cell) AS rn
         |    FROM vs$s v CROSS JOIN c${r - 1}s$s c) WHERE rn = 1),
         |m${r}s$s AS MATERIALIZED (
         |  SELECT cell, g.i AS i,
         |    CAST(floor(CAST(sum(q[g.i]) AS DOUBLE) / count(*)) AS BIGINT) AS m
         |  FROM a${r}s$s CROSS JOIN (SELECT unnest(generate_series(1, $sub)) AS i) g
         |  GROUP BY cell, g.i),
         |c${r}s$s AS MATERIALIZED (
         |  SELECT p.cell, coalesce(u.c, p.c) AS c
         |  FROM c${r - 1}s$s p LEFT JOIN
         |    (SELECT cell, list(m ORDER BY i) AS c FROM m${r}s$s GROUP BY cell) u
         |  ON u.cell = p.cell)""".stripMargin
    }.mkString(",\n")
    s"""vs$s AS MATERIALIZED (
       |  SELECT vec_id, fq[${lo + 1}:${lo + sub}] AS q FROM vpq),
       |c0s$s AS MATERIALIZED (
       |  SELECT cell, c FROM (
       |    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, q AS c
       |    FROM vs$s)
       |  WHERE cell < $ksub),
       |$rounds,
       |afs$s AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT v.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |        ${distExpr("v.q", "c.c")}, c.cell) AS rn
       |    FROM vs$s v CROSS JOIN c${iters}s$s c) WHERE rn = 1)""".stripMargin
  }

  private val pqBaseCte: String =
    """vpq AS MATERIALIZED (
      |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
      |    x -> CAST(floor(x * 1000000) AS BIGINT)) AS fq
      |  FROM embeddings)""".stripMargin

  def pqError(m: Int = 4, ksub: Int = 8, iters: Int = 2,
      dim: Int = 64): String = {
    require(dim % m == 0)
    val sub = dim / m
    def errCte(s: Int): String =
      s"""errs$s AS (
         |  SELECT list_reduce(list_transform(generate_series(1, $sub),
         |      i -> abs(v.q[i] - c.c[i])), (a, b) -> a + b) AS err
         |  FROM afs$s af
         |  JOIN vs$s v ON v.vec_id = af.vec_id
         |  JOIN c${iters}s$s c ON c.cell = af.cell)""".stripMargin
    val sel = (0 until m).map(s =>
      s"""SELECT CAST($s AS BIGINT) AS subspace, count(*) AS n_vecs,
         |  CAST(sum(err) // (count(*) * $sub) AS BIGINT) AS mean_abs_err_x1e6,
         |  CAST(max(err) AS BIGINT) AS max_vec_err_x1e6 FROM errs$s""".stripMargin)
      .mkString("\n UNION ALL ")
    s"""WITH $pqBaseCte,
       |${(0 until m).map(s => pqSubspaceCtes(s, ksub, iters, sub)).mkString(",\n")},
       |${(0 until m).map(errCte).mkString(",\n")}
       |$sel ORDER BY subspace""".stripMargin
  }

  /** Oracle mirror of Similarity.pqCodeDups: the shared per-subspace
    * training CTEs, code vectors assembled by joining the m final
    * assignments on vec_id, the hot-cell QUALIFY cap, an equality
    * self-join on the full code, and exact-cosine verification.
    */
  def dedupPqCodes(m: Int = 4, ksub: Int = 8, iters: Int = 2,
      dim: Int = 64, threshold: Double = 0.45,
      maxCellDf: Int = graft.ops.Dedup.DefaultBandCap): String = {
    require(dim % m == 0)
    val sub = dim / m
    val joins = (1 until m).map(s => s"JOIN afs$s a$s ON a$s.vec_id = a0.vec_id")
      .mkString("\n  ")
    val codeCols = (0 until m).map(s => s"a$s.cell AS x$s").mkString(", ")
    val codeKey = (0 until m).map(s => s"x$s").mkString(", ")
    val onEq = (0 until m).map(s => s"l.x$s = r.x$s").mkString(" AND ")
    s"""WITH embx AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 900000,
       |    list_transform(CAST(embedding AS DOUBLE[]), x -> x * 0.99)
       |  FROM embeddings WHERE vec_id < 10),
       |vpq AS MATERIALIZED (
       |  SELECT vec_id, list_transform(e,
       |    x -> CAST(floor(x * 1000000) AS BIGINT)) AS fq
       |  FROM embx),
       |ve AS MATERIALIZED (
       |  SELECT vec_id, e FROM embx),
       |${(0 until m).map(s => pqSubspaceCtes(s, ksub, iters, sub)).mkString(",\n")},
       |codes0 AS (
       |  SELECT a0.vec_id, $codeCols
       |  FROM afs0 a0
       |  $joins),
       |codes AS (
       |  SELECT vec_id, $codeKey FROM codes0
       |  QUALIFY count(*) OVER (PARTITION BY $codeKey) <= $maxCellDf)
       |SELECT a, b, cos FROM (
       |  SELECT l.vec_id AS a, r.vec_id AS b,
       |    round(list_dot_product(x.e, y.e)
       |      / (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e))), 6) AS cos
       |  FROM codes l JOIN codes r ON $onEq AND l.vec_id < r.vec_id
       |  JOIN ve x ON x.vec_id = l.vec_id
       |  JOIN ve y ON y.vec_id = r.vec_id)
       |WHERE cos >= $threshold ORDER BY a, b""".stripMargin
  }

  /** Oracle mirror of Similarity.ivfPqTopK: the shared coarse-IVF
    * training CTEs (v/c0/…/afinal) + the shared per-subspace PQ CTEs
    * (vpq bridged from v), codes assembled per vector, query probes
    * ranked on the full-dim distance, and the ADC rank computed as the
    * TRUE integer Σ_s ‖q_s − codeword‖² via per-subspace codebook
    * joins.
    */
  def simAnnIvfPq(nlist: Int = 8, nprobe: Int = 2, m: Int = 4,
      ksub: Int = 8, iters: Int = 2, k: Int = 10, dim: Int = 64,
      queryIds: Seq[Long] = Seq(0L, 1L, 2L)): String = {
    require(dim % m == 0)
    val sub = dim / m
    def fullDist(q: String, c: String): String = ivfDistExpr(q, c, dim)
    val codeJoins = (1 until m).map(s => s"JOIN afs$s a$s ON a$s.vec_id = a0.vec_id")
      .mkString("\n  ")
    val codeCols = (0 until m).map(s => s"a$s.cell AS x$s").mkString(", ")
    val adcJoins = (0 until m).map(s =>
      s"""JOIN vs$s vq$s ON vq$s.vec_id = c.query_id
         |  JOIN c${iters}s$s cb$s ON cb$s.cell = x.x$s""".stripMargin)
      .mkString("\n  ")
    val adcSum = (0 until m).map(s => ivfDistExpr(s"vq$s.q", s"cb$s.c", sub))
      .mkString("\n    + ")
    s"""WITH ${ivfTrainCtes(nlist, iters, dim)},
       |vpq AS MATERIALIZED (SELECT vec_id, q AS fq FROM v),
       |${(0 until m).map(s => pqSubspaceCtes(s, ksub, iters, sub)).mkString(",\n")},
       |codes AS (
       |  SELECT a0.vec_id, $codeCols
       |  FROM afs0 a0
       |  $codeJoins),
       |qp AS (
       |  SELECT vec_id AS query_id, cell FROM (
       |    SELECT v.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |        ${fullDist("v.q", "c.c")}, c.cell) AS rn
       |    FROM v CROSS JOIN c$iters c
       |    WHERE v.vec_id IN (${queryIds.mkString(", ")})) WHERE rn <= $nprobe),
       |cand AS (
       |  SELECT p.query_id, a.vec_id
       |  FROM afinal a JOIN qp p ON a.cell = p.cell AND a.vec_id <> p.query_id),
       |scored AS (
       |  SELECT c.query_id, c.vec_id,
       |    CAST($adcSum AS BIGINT) AS adist
       |  FROM cand c
       |  JOIN codes x ON x.vec_id = c.vec_id
       |  $adcJoins),
       |r AS (
       |  SELECT query_id, vec_id, adist,
       |    row_number() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS rnk
       |  FROM scored)
       |SELECT query_id, vec_id, adist, CAST(rnk AS INT) AS rnk FROM r
       |WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin
  }

  def simAnnIvfExact(nlist: Int = 8, nprobe: Int = 2, iters: Int = 2,
      k: Int = 10, dim: Int = 64): String = {
    def distExpr(q: String, c: String): String = ivfDistExpr(q, c, dim)
    s"""WITH ${ivfTrainCtes(nlist, iters, dim)},
       |qp AS (
       |  SELECT vec_id AS query_id, cell FROM (
       |    SELECT v.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |        ${distExpr("v.q", "c.c")}, c.cell) AS rn
       |    FROM v CROSS JOIN c$iters c WHERE v.vec_id IN (0, 1, 2))
       |  WHERE rn <= $nprobe),
       |cand AS (
       |  SELECT DISTINCT p.query_id, a.vec_id
       |  FROM qp p JOIN afinal a ON a.cell = p.cell
       |  WHERE a.vec_id <> p.query_id),
       |scored AS (
       |  SELECT c.query_id, c.vec_id,
       |    round(list_dot_product(x.e, y.e)
       |      / (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e))), 6) AS cos
       |  FROM cand c JOIN v x ON x.vec_id = c.vec_id JOIN v y ON y.vec_id = c.query_id),
       |r AS (SELECT query_id, vec_id, cos,
       |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
       |      FROM scored)
       |SELECT query_id, vec_id, cos, CAST(rnk AS INT) AS rnk FROM r
       |WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin
  }

  /** SemDeDup mirror: the SAME unrolled fixed-point Lloyd chain as
    * simAnnIvfExact (shared [[ivfTrainCtesExpr]] text — the oracles
    * cannot drift), with nlist computed by the corpus-size SCHEDULE
    * (Similarity.semDedupSchedule: hold expected cluster size ~constant)
    * in a sched CTE, then the within-cluster pair scan, the greedy
    * min-id drop rule, and the per-cluster survivor accounting.
    */
  def dedupSemantic(threshold: String = "0.45", targetCluster: Int = 125,
      iters: Int = 2, dim: Int = 64): String =
    s"""WITH sched AS MATERIALIZED (
       |  SELECT least(1024, greatest(4, (count(*) + ${targetCluster - 1})
       |    // $targetCluster)) AS nl
       |  FROM embeddings),
       |${ivfTrainCtesExpr("SELECT nl FROM sched", iters, dim)},
       |pairs AS (
       |  SELECT x.cell AS cid, x.vec_id AS a, y.vec_id AS b
       |  FROM afinal x JOIN afinal y
       |  ON y.cell = x.cell AND x.vec_id < y.vec_id),
       |scored AS (
       |  SELECT p.cid, p.a, p.b,
       |    round(list_dot_product(va.e, vb.e)
       |      / (sqrt(list_dot_product(va.e, va.e)) * sqrt(list_dot_product(vb.e, vb.e))), 6) AS cos
       |  FROM pairs p JOIN v va ON va.vec_id = p.a JOIN v vb ON vb.vec_id = p.b),
       |dropped AS (SELECT DISTINCT cid, b FROM scored WHERE cos >= $threshold)
       |SELECT CAST(a.cell AS BIGINT) AS cid, count(*) AS n_vecs,
       |  CAST(count(d.b) AS BIGINT) AS n_dropped,
       |  CAST(count(*) - count(d.b) AS BIGINT) AS n_kept
       |FROM afinal a LEFT JOIN dropped d ON d.cid = a.cell AND d.b = a.vec_id
       |GROUP BY a.cell ORDER BY cid""".stripMargin

  /** Stratified sampling mirror — same 60-bit md5 threshold family as
    * sample_hash_5pct, per-language rates.
    */
  val sampleStratified: String =
    s"""SELECT lang, doc_id FROM (
       |  SELECT lang, doc_id,
       |    ${GraphSql.md5Hash60("'strat:' || CAST(doc_id AS VARCHAR)")} % 100 AS h
       |  FROM documents)
       |WHERE h < CASE WHEN lang = 'en' THEN 5 ELSE 20 END
       |ORDER BY lang, doc_id""".stripMargin

  /** Near-dup cluster resolution mirror: the SAME capped MinHash
    * candidate pairs (minhashCandCtes — the oracles cannot drift), then
    * `rounds` unrolled min-label propagation rounds (the
    * GraphOps.connectedComponents fixpoint; components here are band-collision
    * cliques, so eccentricity from each component's min node is far
    * below `rounds` — a shortfall would surface as a label mismatch in
    * the cross-SF verify sweep, same argument as GraphSql.ccSizes).
    */
  def dedupClusters(rounds: Int = 16): String = {
    val steps = (1 to rounds).map { k =>
      s"""l$k AS MATERIALIZED (
         |  SELECT node, min(lbl) AS lbl FROM (
         |    SELECT node, lbl FROM l${k - 1}
         |    UNION ALL
         |    SELECT e.b AS node, l.lbl FROM cedges e JOIN l${k - 1} l ON l.node = e.a)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${plantCte(exact = false)},
       |$shinglesCte,
       |$minhashCandCtes,
       |cnodes AS MATERIALIZED (SELECT DISTINCT doc_id FROM (
       |  SELECT a AS doc_id FROM cand UNION ALL SELECT b FROM cand)),
       |cedges AS MATERIALIZED (
       |  SELECT a, b FROM cand UNION SELECT b AS a, a AS b FROM cand),
       |l0 AS MATERIALIZED (SELECT doc_id AS node, doc_id AS lbl FROM cnodes),
       |$steps
       |SELECT node AS doc_id, lbl AS canonical_id FROM l$rounds
       |ORDER BY canonical_id, doc_id""".stripMargin
  }

  /** End-to-end near-dedup keep mirror: the dedupClusters label chain,
    * then drop non-canonical members and count survivors per language.
    */
  def pipelineClusterKeep(rounds: Int = 16): String = {
    val labels = dedupClusters(rounds)
    // reuse the full cluster query as a subselect — the two oracles
    // cannot drift, and DuckDB flattens the nesting
    s"""WITH lbl AS MATERIALIZED (
       |  SELECT * FROM ($labels)),
       |${plantCte(exact = false).replaceFirst("docs AS", "docs2 AS")}
       |SELECT lang, count(*) AS n_kept FROM docs2
       |WHERE doc_id NOT IN (SELECT doc_id FROM lbl WHERE canonical_id <> doc_id)
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Tokenized (doc_id, w) rows over `documents` — the retrieval
    * scorers' shared base (mirror of TextOps.tokenRows).
    */
  private val docTokensCte: String =
    """toks AS (
      |  SELECT doc_id, w FROM (
      |    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS w
      |    FROM documents)
      |  WHERE w <> '')""".stripMargin

  /** Okapi BM25 mirror of TextOps.bm25TopK. Every double op is in the
    * same order as the Spark expressions (constants appear as the same
    * arithmetic — `(1.2 + 1.0)`, not a precomputed 2.2, because the
    * decimal literal 2.2 is a DIFFERENT double than 1.2 + 1.0); the
    * per-term partial scores are summed in fixed term order through the
    * max-CASE pivot.
    */
  def bm25Topk(terms: Seq[String], k: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val pivots = terms.zipWithIndex.map { case (t, i) =>
      s"max(CASE WHEN w = '$t' THEN s END) AS s$i"
    }.mkString(",\n        ")
    val total = terms.indices.map(i => s"coalesce(s$i, 0.0)").mkString(" + ")
    s"""WITH $docTokensCte,
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |corpus AS (SELECT count(*) AS n_docs, sum(dl) AS tok_total FROM dl),
       |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks
       |       WHERE w IN ($inList) GROUP BY doc_id, w),
       |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
       |scored AS (
       |  SELECT t.doc_id, t.w,
       |    ln((c.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
       |      * (t.tf * ($k1 + 1.0))
       |      / (t.tf + $k1 * ((1.0 - $b) + $b * l.dl / (CAST(c.tok_total AS DOUBLE) / c.n_docs))) AS s
       |  FROM tf t
       |  JOIN df d ON d.w = t.w
       |  JOIN dl l ON l.doc_id = t.doc_id
       |  CROSS JOIN corpus c),
       |p AS (SELECT doc_id,
       |        $pivots
       |      FROM scored GROUP BY doc_id)
       |SELECT doc_id, round($total, 6) AS bm25
       |FROM p ORDER BY bm25 DESC, doc_id LIMIT $k""".stripMargin
  }

  /** Pseudo-relevance-feedback expansion mirror of `search_prf_terms`:
    * the bm25Topk CTE chain LIMIT 10 feeds an exact-integer term-lift
    * computation ((df_top/10)/(df_corpus/N) ×1e6), query terms
    * excluded, df_top ≥ 3 floor, top 5 by (lift DESC, term).
    */
  def prfTerms(terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val pivots = terms.zipWithIndex.map { case (t, i) =>
      s"max(CASE WHEN w = '$t' THEN s END) AS s$i"
    }.mkString(",\n        ")
    val total = terms.indices.map(i => s"coalesce(s$i, 0.0)").mkString(" + ")
    s"""WITH $docTokensCte,
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |corpus AS (SELECT count(*) AS n_docs, sum(dl) AS tok_total FROM dl),
       |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks
       |       WHERE w IN ($inList) GROUP BY doc_id, w),
       |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
       |scored AS (
       |  SELECT t.doc_id, t.w,
       |    ln((c.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
       |      * (t.tf * ($k1 + 1.0))
       |      / (t.tf + $k1 * ((1.0 - $b) + $b * l.dl / (CAST(c.tok_total AS DOUBLE) / c.n_docs))) AS s
       |  FROM tf t
       |  JOIN df d ON d.w = t.w
       |  JOIN dl l ON l.doc_id = t.doc_id
       |  CROSS JOIN corpus c),
       |p AS (SELECT doc_id,
       |        $pivots
       |      FROM scored GROUP BY doc_id),
       |top10 AS (SELECT doc_id FROM (
       |    SELECT doc_id, round($total, 6) AS bm25 FROM p
       |    ORDER BY bm25 DESC, doc_id LIMIT 10)),
       |cdf AS (SELECT w, CAST(count(DISTINCT doc_id) AS BIGINT) AS dfc
       |        FROM toks GROUP BY 1),
       |tdf AS (SELECT w, CAST(count(DISTINCT doc_id) AS BIGINT) AS dft
       |        FROM toks JOIN top10 USING (doc_id)
       |        WHERE w NOT IN ($inList) GROUP BY 1)
       |SELECT w AS term, dft AS df_top, dfc AS df_corpus,
       |  CAST(dft * (SELECT n_docs FROM corpus) * 1000000
       |    // (10 * dfc) AS BIGINT) AS lift_x1e6
       |FROM tdf JOIN cdf USING (w)
       |WHERE dft >= 3
       |ORDER BY lift_x1e6 DESC, term LIMIT 5""".stripMargin
  }

  /** Reciprocal-rank-fusion mirror of `search_hybrid_rrf`: the bm25Topk
    * CTE chain (same op order) ranked, the sim_cosine_topk scoring for
    * ONE query vector ranked, fused with integer 1e6 // (60 + rank).
    */
  def hybridRrf(terms: Seq[String], queryVec: Long, listK: Int, k: Int): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val pivots = terms.zipWithIndex.map { case (t, i) =>
      s"max(CASE WHEN w = '$t' THEN s END) AS s$i"
    }.mkString(",\n        ")
    val total = terms.indices.map(i => s"coalesce(s$i, 0.0)").mkString(" + ")
    s"""WITH $docTokensCte,
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |corpus AS (SELECT count(*) AS n_docs, sum(dl) AS tok_total FROM dl),
       |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks
       |       WHERE w IN ($inList) GROUP BY doc_id, w),
       |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
       |scored AS (
       |  SELECT t.doc_id, t.w,
       |    ln((c.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
       |      * (t.tf * (1.2 + 1.0))
       |      / (t.tf + 1.2 * ((1.0 - 0.75) + 0.75 * l.dl / (CAST(c.tok_total AS DOUBLE) / c.n_docs))) AS s
       |  FROM tf t
       |  JOIN df d ON d.w = t.w
       |  JOIN dl l ON l.doc_id = t.doc_id
       |  CROSS JOIN corpus c),
       |p AS (SELECT doc_id,
       |        $pivots
       |      FROM scored GROUP BY doc_id),
       |lex AS (SELECT doc_id, round($total, 6) AS bm25
       |        FROM p ORDER BY bm25 DESC, doc_id LIMIT $listK),
       |lexr AS (SELECT doc_id,
       |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_lex FROM lex),
       |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |q AS (SELECT e AS qe FROM v WHERE vec_id = $queryVec),
       |den0 AS (
       |  SELECT vec_id AS doc_id,
       |    round(list_dot_product(e, qe)
       |      / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe))), 6) AS cos
       |  FROM v CROSS JOIN q WHERE vec_id <> $queryVec),
       |den AS (SELECT doc_id, cos FROM den0 ORDER BY cos DESC, doc_id LIMIT $listK),
       |denr AS (SELECT doc_id,
       |    row_number() OVER (ORDER BY cos DESC, doc_id) AS rank_dense FROM den),
       |fused AS (
       |  SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
       |    CAST(coalesce(l.rank_lex, 0) AS BIGINT) AS rank_lex,
       |    CAST(coalesce(d.rank_dense, 0) AS BIGINT) AS rank_dense,
       |    CAST(coalesce(1000000 // (60 + l.rank_lex), 0)
       |       + coalesce(1000000 // (60 + d.rank_dense), 0) AS BIGINT) AS rrf_x1e6
       |  FROM lexr l FULL OUTER JOIN denr d ON d.doc_id = l.doc_id)
       |SELECT doc_id, rank_lex, rank_dense, rrf_x1e6 FROM fused
       |ORDER BY rrf_x1e6 DESC, doc_id LIMIT $k""".stripMargin
  }

  /** TF-IDF top-terms mirror of TextOps.tfidfTopTerms: df over the FULL
    * corpus, rank within the target doc slice.
    */
  def tfidfTopTerms(maxDocId: Long = 30L, perDoc: Int = 3): String =
    s"""WITH $docTokensCte,
       |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY doc_id, w),
       |nd AS (SELECT count(*) AS n_docs FROM documents),
       |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
       |s AS (
       |  SELECT t.doc_id, t.w,
       |    round(t.tf * ln(CAST(c.n_docs AS DOUBLE) / d.df), 6) AS tfidf
       |  FROM tf t JOIN df d ON d.w = t.w CROSS JOIN nd c
       |  WHERE t.doc_id < $maxDocId),
       |r AS (SELECT doc_id, w, tfidf,
       |        row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, w) AS rnk
       |      FROM s)
       |SELECT doc_id, w, tfidf, CAST(rnk AS INT) AS rnk FROM r
       |WHERE rnk <= $perDoc ORDER BY doc_id, rnk""".stripMargin

  /** Sparse TF-IDF cosine mirror of TextOps.tfidfCosinePairs over the
    * planted near-dup corpus: same floored ×1e3 weights (identical ln
    * op order), schedule-chosen stop-term df cap (the capv discipline),
    * exact-integer cosine² rational.
    */
  def simTfidfSparse(threshold2X1e6: Long = 640000L): String =
    s"""WITH ${plantCte(exact = false)},
       |toks AS (SELECT doc_id, w FROM (
       |    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
       |    FROM docs)
       |  WHERE w <> ''),
       |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
       |nd AS (SELECT count(*) AS n_docs FROM docs),
       |capv AS (
       |  SELECT greatest(CAST(8 AS BIGINT), least(CAST(128 AS BIGINT),
       |    ${graft.ops.Dedup.ContainmentDfBudget} // count(*))) AS cap
       |  FROM docs),
       |df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1
       |       HAVING count(*) <= (SELECT cap FROM capv)),
       |wts0 AS (
       |  SELECT t.doc_id, t.w,
       |    CAST(floor(t.tf * ln(CAST(c.n_docs AS DOUBLE) / d.df) * 1000.0)
       |      AS BIGINT) AS wt
       |  FROM tf t JOIN df d USING (w) CROSS JOIN nd c),
       |wts AS (SELECT * FROM wts0 WHERE wt > 0),
       |norms AS (SELECT doc_id, sum(CAST(wt AS HUGEINT) * wt) AS n2
       |          FROM wts GROUP BY 1),
       |num AS (
       |  SELECT l.doc_id AS a, r.doc_id AS b,
       |    sum(CAST(l.wt AS HUGEINT) * r.wt) AS num
       |  FROM wts l JOIN wts r ON r.w = l.w AND l.doc_id < r.doc_id
       |  GROUP BY 1, 2)
       |SELECT a, b, cos2_x1e6 FROM (
       |  SELECT a, b,
       |    CAST(num * num * 1000000 // (na.n2 * nb.n2) AS BIGINT) AS cos2_x1e6
       |  FROM num
       |  JOIN norms na ON na.doc_id = a
       |  JOIN norms nb ON nb.doc_id = b)
       |WHERE cos2_x1e6 >= $threshold2X1e6 ORDER BY a, b""".stripMargin

  /** nDCG@k mirror of TextOps.ndcgEval: the bm25Topk ranking chain (same
    * double op order) LIMIT k, graded term-overlap relevance, and the
    * SAME position-discount literals (TextOps.ndcgDiscX1e9 — the one
    * float op happens in the driver; everything here is exact BIGINT).
    */
  def searchNdcgEval(terms: Seq[String], k: Int = 10): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val pivots = terms.zipWithIndex.map { case (t, i) =>
      s"max(CASE WHEN w = '$t' THEN s END) AS s$i"
    }.mkString(",\n        ")
    val total = terms.indices.map(i => s"coalesce(s$i, 0.0)").mkString(" + ")
    val disc = graft.ops.TextOps.ndcgDiscX1e9(k)
    val discCase = disc.zipWithIndex.map { case (v, i) =>
      s"WHEN ${i + 1} THEN CAST($v AS BIGINT)"
    }.mkString(" ")
    s"""WITH $docTokensCte,
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |corpus AS (SELECT count(*) AS n_docs, sum(dl) AS tok_total FROM dl),
       |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks
       |       WHERE w IN ($inList) GROUP BY doc_id, w),
       |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
       |scored AS (
       |  SELECT t.doc_id, t.w,
       |    ln((c.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
       |      * (t.tf * (1.2 + 1.0))
       |      / (t.tf + 1.2 * ((1.0 - 0.75) + 0.75 * l.dl / (CAST(c.tok_total AS DOUBLE) / c.n_docs))) AS s
       |  FROM tf t
       |  JOIN df d ON d.w = t.w
       |  JOIN dl l ON l.doc_id = t.doc_id
       |  CROSS JOIN corpus c),
       |p AS (SELECT doc_id, $pivots FROM scored GROUP BY doc_id),
       |ranked0 AS (SELECT doc_id, round($total, 6) AS bm25
       |            FROM p ORDER BY bm25 DESC, doc_id LIMIT $k),
       |ranked AS (SELECT doc_id,
       |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS pos FROM ranked0),
       |rel AS (SELECT doc_id, count(DISTINCT w) AS rel FROM toks
       |        WHERE w IN ($inList) GROUP BY doc_id),
       |dcg AS (
       |  SELECT CAST(sum(((CAST(1 AS BIGINT) << CAST(coalesce(l.rel, 0) AS INT)) - 1)
       |    * (CASE r.pos $discCase END)) AS BIGINT) AS dcg_x1e9
       |  FROM ranked r LEFT JOIN rel l ON l.doc_id = r.doc_id),
       |ideal0 AS (SELECT rel,
       |    row_number() OVER (ORDER BY rel DESC, doc_id) AS pos FROM rel),
       |ideal AS (
       |  SELECT CAST(sum(((CAST(1 AS BIGINT) << CAST(rel AS INT)) - 1)
       |    * (CASE pos $discCase END)) AS BIGINT) AS idcg_x1e9,
       |    CAST(count(*) AS BIGINT) AS n_ideal
       |  FROM ideal0 WHERE pos <= $k)
       |SELECT dcg_x1e9, idcg_x1e9, n_ideal,
       |  CAST(dcg_x1e9 * 1000000 // idcg_x1e9 AS BIGINT) AS ndcg_x1e6
       |FROM dcg CROSS JOIN ideal""".stripMargin
  }

  /** Recall@k / MRR mirror of TextOps.recallMrrEval: bm25Topk chain
    * LIMIT k, binary relevance at >= minRel distinct query terms, exact
    * integer rationals throughout.
    */
  def searchRecallMrr(terms: Seq[String], k: Int = 20, minRel: Int = 2): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val pivots = terms.zipWithIndex.map { case (t, i) =>
      s"max(CASE WHEN w = '$t' THEN s END) AS s$i"
    }.mkString(",\n        ")
    val total = terms.indices.map(i => s"coalesce(s$i, 0.0)").mkString(" + ")
    s"""WITH $docTokensCte,
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |corpus AS (SELECT count(*) AS n_docs, sum(dl) AS tok_total FROM dl),
       |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks
       |       WHERE w IN ($inList) GROUP BY doc_id, w),
       |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
       |scored AS (
       |  SELECT t.doc_id, t.w,
       |    ln((c.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
       |      * (t.tf * (1.2 + 1.0))
       |      / (t.tf + 1.2 * ((1.0 - 0.75) + 0.75 * l.dl / (CAST(c.tok_total AS DOUBLE) / c.n_docs))) AS s
       |  FROM tf t
       |  JOIN df d ON d.w = t.w
       |  JOIN dl l ON l.doc_id = t.doc_id
       |  CROSS JOIN corpus c),
       |p AS (SELECT doc_id, $pivots FROM scored GROUP BY doc_id),
       |ranked0 AS (SELECT doc_id, round($total, 6) AS bm25
       |            FROM p ORDER BY bm25 DESC, doc_id LIMIT $k),
       |ranked AS (SELECT doc_id,
       |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS pos FROM ranked0),
       |rel AS (SELECT doc_id FROM toks WHERE w IN ($inList)
       |        GROUP BY doc_id HAVING count(DISTINCT w) >= $minRel),
       |nr AS (SELECT count(*) AS n_relevant FROM rel),
       |j AS (SELECT r.pos, CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_rel
       |      FROM ranked r LEFT JOIN rel l ON l.doc_id = r.doc_id),
       |a AS (SELECT min(CASE WHEN is_rel = 1 THEN pos END) AS frr,
       |        CAST(sum(CASE WHEN is_rel = 1 AND pos <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS h5,
       |        CAST(sum(CASE WHEN is_rel = 1 AND pos <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS h10,
       |        CAST(sum(CASE WHEN is_rel = 1 AND pos <= $k THEN 1 ELSE 0 END) AS BIGINT) AS hk
       |      FROM j)
       |SELECT CAST(n_relevant AS BIGINT) AS n_relevant,
       |  CAST(coalesce(frr, 0) AS BIGINT) AS first_rel_rank,
       |  CAST(coalesce(1000000 // frr, 0) AS BIGINT) AS mrr_x1e6,
       |  CAST(h5 * 1000000 // nullif(n_relevant, 0) AS BIGINT) AS recall5_x1e6,
       |  CAST(h10 * 1000000 // nullif(n_relevant, 0) AS BIGINT) AS recall10_x1e6,
       |  CAST(hk * 1000000 // nullif(n_relevant, 0) AS BIGINT) AS recall${k}_x1e6
       |FROM a CROSS JOIN nr""".stripMargin
  }

  /** Dirichlet query-likelihood mirror of TextOps.qlDirichletTopK: the
    * ln argument is the SAME single integer-ratio division, terms
    * floored ×1e6 before the integer sum.
    */
  def searchQlDirichlet(terms: Seq[String], mu: Long = 2000L, k: Int = 20): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH $docTokensCte,
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |cf AS (SELECT w, count(*) AS cf FROM toks WHERE w IN ($inList) GROUP BY w),
       |ct AS (SELECT count(*) AS c_total FROM toks),
       |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks
       |       WHERE w IN ($inList) GROUP BY doc_id, w),
       |grid AS (
       |  SELECT l.doc_id, l.dl, f.w, f.cf, c.c_total, coalesce(t.tf, 0) AS tf
       |  FROM dl l CROSS JOIN cf f CROSS JOIN ct c
       |  LEFT JOIN tf t ON t.doc_id = l.doc_id AND t.w = f.w),
       |terms AS (
       |  SELECT doc_id,
       |    CAST(floor(ln(CAST(tf * c_total + $mu * cf AS DOUBLE)
       |      / CAST(c_total * (dl + $mu) AS DOUBLE)) * 1e6) AS BIGINT) AS term_x1e6
       |  FROM grid)
       |SELECT doc_id, CAST(sum(term_x1e6) AS BIGINT) AS ql_x1e6
       |FROM terms GROUP BY doc_id
       |ORDER BY ql_x1e6 DESC, doc_id LIMIT $k""".stripMargin
  }

  /** Anomalous-hours mirror: exact integer sum / sum-of-squares per
    * type, identical double op order for mean / variance / the 2σ
    * filter and the scaled z score.
    */
  val anomalousHours: String =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |st AS (
      |  SELECT event_type, count(*) AS hours, sum(n) AS s1, sum(n * n) AS s2
      |  FROM hourly GROUP BY event_type),
      |j AS (
      |  SELECT h.event_type, h.hr, h.n,
      |    CAST(s.s1 AS DOUBLE) / s.hours AS mean,
      |    CAST(s.s2 AS DOUBLE) / s.hours
      |      - (CAST(s.s1 AS DOUBLE) / s.hours) * (CAST(s.s1 AS DOUBLE) / s.hours) AS variance
      |  FROM hourly h JOIN st s USING (event_type))
      |SELECT event_type, hr, n,
      |  CAST(floor(abs(n - mean) / sqrt(greatest(variance, 1e-12)) * 100) AS BIGINT) AS z_x100
      |FROM j
      |WHERE (n - mean) * (n - mean) > 4.0 * variance
      |ORDER BY event_type, hr""".stripMargin

  /** Repetition mirror: contiguous (non-distinct) 3-grams, duplicate
    * ratio in basis points.
    */
  val repetition: String =
    """SELECT doc_id, CAST(len(g) AS BIGINT) AS n_grams,
      |  CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct,
      |  CAST(floor((len(g) - len(list_distinct(g))) * 10000.0
      |    / greatest(len(g), 1)) AS BIGINT) AS dup_pct_bp
      |FROM (
      |  SELECT doc_id,
      |    list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
      |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS g
      |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS tk
      |        FROM documents))
      |ORDER BY doc_id""".stripMargin

  /** PII scrub mirror: same planted-tail construction, same RE2-safe
    * patterns, same email → ip → phone redaction order. DuckDB
    * regexp_replace needs the explicit 'g' flag to match Spark's
    * replace-all semantics.
    */
  def piiScrub(plantMax: Long = 25L): String = {
    val email = graft.ops.TextOps.emailRe
    val phone = graft.ops.TextOps.phoneRe
    val ip = graft.ops.TextOps.ipRe
    s"""WITH d AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 200000,
       |    text || ' contact user' || CAST(doc_id AS VARCHAR)
       |      || '@example.com or +1 555-123-4567 host 10.0.'
       |      || CAST(doc_id % 256 AS VARCHAR) || '.1'
       |  FROM documents WHERE doc_id < $plantMax)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ips,
       |  CAST(len(regexp_extract_all(text, '$phone')) AS BIGINT) AS n_phones,
       |  md5(regexp_replace(regexp_replace(regexp_replace(text,
       |    '$email', '[EMAIL]', 'g'), '$ip', '[IP]', 'g'), '$phone', '[PHONE]', 'g')) AS redacted_fp
       |FROM d ORDER BY doc_id""".stripMargin
  }

  /** Mixture-weight mirror: floor(min_n · 10⁴ / n) basis points per
    * language.
    */
  val mixWeights: String =
    """SELECT lang, n,
      |  CAST(floor(min(n) OVER () * 10000.0 / n) AS BIGINT) AS keep_pct
      |FROM (SELECT lang, count(*) AS n FROM documents GROUP BY lang)
      |ORDER BY lang""".stripMargin

  /** Temperature-scaled source mixture mirror (τ = 0.5): per-source
    * token mass, w_i ∝ sqrt(n_i). sqrt is IEEE-correctly-rounded on
    * both engines and each s_i is floored to fixed-point BEFORE the
    * total, so the sum is an ORDER-FREE integer sum (a double Σ√n would
    * be ulp-ordering-dependent); the final ratio is exact integral
    * division in HUGEINT/DECIMAL(38,0).
    */
  val temperatureMix: String =
    """WITH t AS (
      |  SELECT source,
      |    CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |s AS (SELECT source, n_tokens,
      |        CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT) AS s_i
      |      FROM t),
      |tot AS (SELECT sum(s_i) AS total FROM s)
      |SELECT source, n_tokens,
      |  CAST((CAST(s_i AS HUGEINT) * 1000000) // CAST(total AS HUGEINT) AS BIGINT) AS w_x1e6
      |FROM s CROSS JOIN tot ORDER BY source""".stripMargin

  /** Oracle mirror of TextOps.linearProbe: the full-batch integer-GD
    * training loop unrolled — per step a 1-row gradient/SSE aggregate
    * (HUGEINT-exact sums CAST back to BIGINT) and a 1-row weight
    * update, chained by cross joins. Truncating division throughout
    * (DuckDB `//` and Spark `div` agree on signed operands). Shares
    * the stats scoreCols fragment so the features cannot drift from
    * the quality family.
    */
  /** The feature/w0/unrolled-GD-step CTEs shared by [[linearProbe]] and
    * [[probeCalibration]] — one text so the two gates train
    * identically.
    */
  private def linearProbeCtes(iters: Int): String = {
    val pred = "(f1*w1 + f2*w2 + f3*w3 + f4*w4) // 1000 - y"
    val steps = (1 to iters).map { r =>
      s"""g$r AS MATERIALIZED (
         |  SELECT CAST(sum(f1 * r) AS BIGINT) AS g1,
         |         CAST(sum(f2 * r) AS BIGINT) AS g2,
         |         CAST(sum(f3 * r) AS BIGINT) AS g3,
         |         CAST(sum(f4 * r) AS BIGINT) AS g4,
         |         CAST(sum(r * r) AS BIGINT) AS sse
         |  FROM (SELECT f1, f2, f3, f4, $pred AS r
         |        FROM feat CROSS JOIN w${r - 1})),
         |w$r AS MATERIALIZED (
         |  SELECT w${r - 1}.w1 - g$r.g1 // (4000 * n) AS w1,
         |         w${r - 1}.w2 - g$r.g2 // (4000 * n) AS w2,
         |         w${r - 1}.w3 - g$r.g3 // (4000 * n) AS w3,
         |         w${r - 1}.w4 - g$r.g4 // (4000 * n) AS w4
         |  FROM w${r - 1} CROSS JOIN g$r CROSS JOIN nn)""".stripMargin
    }.mkString(",\n")
    s"""s AS (
       |  SELECT doc_id, lang, text,
       |    $scoreCols
       |  FROM documents),
       |feat AS MATERIALIZED (
       |  SELECT least(n_tokens, 500) * 2 AS f1,
       |    least((n_punct * 1000) // greatest(n_tokens, 1), 1000) AS f2,
       |    least((s_en * 5000) // greatest(n_tokens, 1), 1000) AS f3,
       |    CAST(1000 AS BIGINT) AS f4,
       |    CAST(CASE WHEN lang = 'en' THEN 1000 ELSE 0 END AS BIGINT) AS y
       |  FROM s),
       |nn AS (SELECT count(*) AS n FROM feat),
       |w0 AS (SELECT CAST(0 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w2,
       |              CAST(0 AS BIGINT) AS w3, CAST(0 AS BIGINT) AS w4),
       |$steps""".stripMargin
  }

  def linearProbe(iters: Int = 3): String = {
    val sel = (1 to iters).map(r =>
      s"""SELECT CAST($r AS BIGINT) AS iter,
         |  CAST(g$r.sse // n AS BIGINT) AS mse_x1e6,
         |  w$r.w1, w$r.w2, w$r.w3, w$r.w4
         |FROM g$r CROSS JOIN w$r CROSS JOIN nn""".stripMargin)
      .mkString("\n UNION ALL ")
    s"""WITH ${linearProbeCtes(iters)}
       |$sel ORDER BY iter""".stripMargin
  }

  /** Calibration mirror of TextOps.probeCalibration: score with the
    * final-step weights, clamp p//25 into [0, 40] buckets, report
    * volume / actual positives / truncated mean prediction.
    */
  def probeCalibration(iters: Int = 3): String =
    s"""WITH ${linearProbeCtes(iters)},
       |scored AS (
       |  SELECT y, (f1*w1 + f2*w2 + f3*w3 + f4*w4) // 1000 AS p
       |  FROM feat CROSS JOIN w$iters)
       |SELECT least(greatest(p // 25, 0), 40) AS bucket,
       |  count(*) AS n_docs,
       |  CAST(sum(CASE WHEN y = 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
       |  CAST(sum(p) // count(*) AS BIGINT) AS mean_p_milli
       |FROM scored GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Epoch-plan mirror of `pipeline_epoch_plan`: per-source mean
    * quality (integral division over the shared quality fragment) →
    * repeat factor → one epoch row per repeat via generate_series,
    * aggregated into the per-epoch token plan with a running total.
    */
  val epochPlan: String =
    s"""WITH s AS (
       |  SELECT doc_id, source, text,
       |    $scoreCols
       |  FROM documents),
       |q AS (
       |  SELECT source, n_tokens AS tok, $qualityExpr AS qual FROM s),
       |t AS (
       |  SELECT source, CAST(sum(tok) AS BIGINT) AS n_tokens,
       |    CAST(sum(qual) // count(*) AS BIGINT) AS mq
       |  FROM q GROUP BY source),
       |rep AS (
       |  SELECT source, n_tokens,
       |    CASE WHEN mq >= 8000 THEN 4 WHEN mq >= 7000 THEN 3
       |         WHEN mq >= 6000 THEN 2 ELSE 1 END AS rep
       |  FROM t),
       |e AS (
       |  SELECT source, n_tokens, unnest(generate_series(1, rep)) AS epoch
       |  FROM rep)
       |SELECT CAST(epoch AS BIGINT) AS epoch, count(*) AS n_sources,
       |  CAST(sum(n_tokens) AS BIGINT) AS epoch_tokens,
       |  CAST(sum(sum(n_tokens)) OVER (ORDER BY epoch) AS BIGINT) AS cum_tokens
       |FROM e GROUP BY epoch ORDER BY epoch""".stripMargin

  /** Decontamination mirror: distinct word n-gram shingles per doc over
    * raw `documents` (same tokenize + shingle construction as
    * Dedup.shingleRows), benchmark = docs below `benchMax`.
    */
  def decontaminate(n: Int = 6, benchMax: Long = 10L): String = {
    val gram = (0 until n).map(j => s"tk[i+$j]").mkString(" || ' ' || ")
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS tk FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, u.s FROM toks,
       |    unnest(list_transform(generate_series(1, greatest(len(tk) - ${n - 1}, 0)),
       |      i -> $gram)) AS u(s)),
       |b AS (SELECT DISTINCT s FROM sh WHERE doc_id < $benchMax)
       |SELECT DISTINCT doc_id FROM sh JOIN b USING (s)
       |WHERE doc_id >= $benchMax ORDER BY doc_id""".stripMargin
  }

  /** Sequence-packing mirror: same stateless shard hash, same running
    * cumulative window per (lang, shard), same start-offset bucket
    * assignment.
    */
  def packSequences(budget: Long = 4096L, shards: Long = 8L): String =
    s"""WITH d AS (
       |  SELECT lang, doc_id,
       |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
       |    ${GraphSql.md5Hash60("'pack:' || CAST(doc_id AS VARCHAR)")} % $shards AS shard
       |  FROM documents),
       |c AS (
       |  SELECT lang, shard, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM d)
       |SELECT lang, shard,
       |  CAST(floor(CAST(cum - n_tokens AS DOUBLE) / $budget) AS BIGINT) AS seq_id,
       |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS seq_tokens
       |FROM c GROUP BY lang, shard, seq_id ORDER BY lang, shard, seq_id""".stripMargin

  /** Per-language length percentiles — quantile_cont is DuckDB's exact
    * interpolated percentile, the pairing percentile_order_value proved.
    */
  val lengthPercentiles: String =
    """SELECT lang,
      |  quantile_cont(n_tokens, 0.25) AS p25,
      |  quantile_cont(n_tokens, 0.5) AS p50,
      |  quantile_cont(n_tokens, 0.9) AS p90,
      |  count(*) AS n
      |FROM (SELECT lang, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
      |      FROM documents)
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** Distinct-per-doc term document frequencies over `documents`. */
  private val dfCte: String =
    """tf AS (
      |  SELECT w, count(*) AS df FROM (
      |    SELECT DISTINCT doc_id, w FROM (
      |      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS w
      |      FROM documents)
      |    WHERE w <> '')
      |  GROUP BY w)""".stripMargin

  val vocabStats: String =
    s"""WITH $dfCte
       |SELECT count(*) AS vocab,
       |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       |  max(df) AS max_df
       |FROM tf""".stripMargin

  def topDfTerms(k: Int = 15): String =
    s"""WITH $dfCte
       |SELECT w, df FROM tf ORDER BY df DESC, w LIMIT $k""".stripMargin

  /** Fixed-point per-dimension embedding stats — floor(x·10⁶) BIGINTs,
    * so min/max/mean are aggregation-order-free on both engines (sum of
    * BIGINT goes HUGEINT in DuckDB; cast to DOUBLE before the mean
    * division, exact below 2^53).
    */
  val embDimStats: String =
    """WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |q AS (SELECT g.i - 1 AS dim, CAST(floor(e[g.i] * 1000000) AS BIGINT) AS q
      |      FROM v CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(e))) AS i) g)
      |SELECT dim, count(*) AS n,
      |  CAST(floor(CAST(sum(q) AS DOUBLE) / count(*)) AS BIGINT) AS mean_x1e6,
      |  min(q) AS min_x1e6, max(q) AS max_x1e6
      |FROM q GROUP BY dim ORDER BY dim""".stripMargin

  /** The decode-stub feature slice that survives any engine: byte count
    * and scaled-integer mean byte, recovered in SQL by hex-expanding the
    * UTF-8 payload. floor(x·10⁴) instead of round() — the usual
    * cross-engine rounding guard.
    */
  val multimodalFeatures: String =
    """WITH a AS (SELECT doc_id AS asset_id, encode(text) AS payload FROM documents),
      |b AS (SELECT asset_id, octet_length(payload) AS nb, hex(payload) AS hx FROM a),
      |s AS (SELECT asset_id, nb,
      |        CASE WHEN nb = 0 THEN 0 ELSE
      |          list_reduce(list_transform(generate_series(1, nb), i ->
      |            CAST(strpos('0123456789ABCDEF', substr(hx, 2 * i - 1, 1)) - 1 AS BIGINT) * 16
      |            + CAST(strpos('0123456789ABCDEF', substr(hx, 2 * i, 1)) - 1 AS BIGINT)),
      |            (x, y) -> x + y) END AS bytesum
      |      FROM b)
      |SELECT asset_id, CAST(nb AS BIGINT) AS n_bytes,
      |  CAST(floor(CAST(bytesum AS DOUBLE) / CAST(greatest(nb, 1) AS DOUBLE) * 10000) AS BIGINT) AS mean_byte_x10k
      |FROM s ORDER BY asset_id""".stripMargin

  /** Frame sampling mirror. The Spark side slices the BLOB natively;
    * the oracle slices the hex expansion (hex(substring(b)) ==
    * substr(hex(b)) per byte), digesting the same uppercase hex.
    */
  def multimodalFrameSample(frameBytes: Int = 64, every: Int = 2): String = {
    val fb2 = frameBytes * 2
    s"""WITH a AS (SELECT doc_id AS asset_id, hex(encode(text)) AS hx,
       |             octet_length(encode(text)) AS n
       |           FROM documents WHERE octet_length(encode(text)) > 0),
       |f AS (SELECT asset_id, u.i AS frame_idx,
       |        substr(hx, CAST(u.i * $fb2 + 1 AS BIGINT), $fb2) AS fh
       |      FROM a, unnest(generate_series(0,
       |        CAST(ceil(n / $frameBytes.0) AS BIGINT) - 1, $every)) u(i))
       |SELECT asset_id, frame_idx,
       |  CAST(length(fh) // 2 AS BIGINT) AS frame_len,
       |  md5(fh) AS frame_md5
       |FROM f ORDER BY asset_id, frame_idx""".stripMargin
  }

  /** Resize-plan mirror: same metadata formulas, same double op order. */
  def multimodalResize(maxDim: Int = 224): String =
    s"""WITH m AS (SELECT doc_id AS asset_id,
       |             CAST(doc_id % 640 + 16 AS INT) AS width,
       |             CAST(doc_id % 480 + 16 AS INT) AS height
       |           FROM documents)
       |SELECT asset_id, width, height,
       |  CAST(greatest(floor(width * ($maxDim.0 / greatest(width, height))), 1) AS BIGINT) AS out_w,
       |  CAST(greatest(floor(height * ($maxDim.0 / greatest(width, height))), 1) AS BIGINT) AS out_h
       |FROM m ORDER BY asset_id""".stripMargin

  val multimodalBytes: String =
    """SELECT format, count(*) AS n, CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes
      |FROM (SELECT CASE WHEN doc_id % 3 = 0 THEN 'png'
      |                  WHEN doc_id % 3 = 1 THEN 'jpeg'
      |                  ELSE 'webp' END AS format, text
      |      FROM documents)
      |GROUP BY format ORDER BY format""".stripMargin
}
