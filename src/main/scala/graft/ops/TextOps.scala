package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines (extension surface per
  * BASELINE.json north star — flagged, not reference parity): token
  * stats, quality scoring, n-gram-heuristic language ID, document
  * fingerprinting. Everything is built from codegen'd builtin functions
  * (no UDFs) so the whole pipeline stays inside whole-stage codegen and
  * scales linearly with input splits — no shuffle until the final
  * aggregate.
  */
object TextOps {

  /** Lowercased whitespace tokens. */
  def tokens(text: Column): Column = split(lower(text), "\\s+")

  def tokenCount(text: Column): Column = regexp_count(text, lit("\\S+"))

  def punctCount(text: Column): Column = regexp_count(text, lit("[.,!?;:]"))

  /** BPE-ish subword piece count: greedy letter runs capped at 4 chars
    * (long words split into ~len/4 pieces, mimicking subword
    * tokenization), single digits, and punctuation runs. Same greedy
    * left-to-right regex semantics in Java regex and RE2, so the count
    * is oracle-portable.
    */
  val bpePiecePattern: String = "[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\\s]"

  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit(bpePiecePattern))

  /** Whitespace-collapsed, lowercased canonical text. Runs as the
    * fused one-pass byte scan ([[graft.functions.NormalizeWsExpr]]);
    * `Reference.normalizedBuiltin` (test sources) is the regex chain it
    * replaces, spec-gated byte-equal (the Linkage.canonical discipline —
    * this projection feeds the exact-dup fingerprint of every
    * dedup/funnel path, so its regex NFA pass was a per-query constant
    * across the family).
    * The DuckDB oracle keeps the regex formulation.
    */
  def normalized(text: Column): Column =
    graft.functions.NormalizeWsExpr(text)

  /** MD5 fingerprint of the normalized text — the exact-dup key. */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** Polynomial rolling hash (Rabin–Karp base 31, mod 2^40) over the
    * normalized text — the incremental-fingerprint shape used for
    * chunk-level dedup. Modulus keeps every intermediate in [0, 2^45)
    * so the same arithmetic is exact in any 64-bit engine (DuckDB
    * BIGINT traps on overflow, Spark wraps — staying small sidesteps
    * both). Non-ASCII is projected to '?' first: engines disagree on
    * char iteration outside ASCII (UTF-16 code units vs codepoints),
    * so the hash is defined over the ASCII projection.
    */
  def rollingHash(text: Column): Column =
    aggregate(
      transform(
        split(regexp_replace(normalized(text), "[^\\x00-\\x7F]", "?"), ""),
        c => ascii(c).cast("long")),
      lit(0L),
      (h, c) => (h * 31L + c) % 1099511627776L)

  /** Tiny per-language stopword profiles for the n-gram/stopword
    * language-ID heuristic. Order matters: the argmax CASE chain breaks
    * ties by this order, mirrored in the SQL oracle.
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "of", "and", "to", "a", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "ein"),
    "fr" -> Seq("le", "les", "des", "et", "une", "est")
  )

  private def stopwordRegex(words: Seq[String]): String =
    words.mkString("\\b(", "|", ")\\b")

  /** Hit count of a language's stopword profile. */
  def langScore(text: Column, lang: String): Column =
    regexp_count(lower(text), lit(stopwordRegex(
      stopwords.toMap.apply(lang))))

  /** Argmax CASE over already-projected profile scores (ties broken by
    * profile order, zero hits everywhere → "und"). Project the scores in
    * a separate select and pass the column REFERENCES here: inlining the
    * regexp_counts into the CASE chain re-evaluates each profile regex
    * per branch (~5×) because codegen CSE doesn't reach into conditional
    * branches — and Catalyst won't collapse the two projects precisely
    * because that would duplicate the expensive expressions.
    */
  def langIdFromScores(scores: Seq[(String, Column)]): Column = {
    val maxScore = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((l, s), acc) =>
      when(s === maxScore && maxScore > 0, lit(l)).otherwise(acc)
    }
  }

  /** Single-expression language ID (argmax inlined — fine for one-off
    * use; hot paths should project scores and use [[langIdFromScores]]).
    */
  def langId(text: Column): Column =
    langIdFromScores(stopwords.map { case (l, _) => l -> langScore(text, l) })

  /** Heuristic quality score in basis points [0,10000]: length band +
    * punctuation sanity + stopword presence. Reported as
    * floor(score·10⁴) — an integer, because `round(x, 4)` straddles
    * .5-ulp boundaries differently across engines while `floor` of the
    * same double is always identical.
    */
  def qualityScore(text: Column): Column =
    qualityFromCounts(tokenCount(text), punctCount(text), langScore(text, "en"))

  /** Quality score over already-projected counts (see
    * [[langIdFromScores]] for why hot paths pre-project).
    */
  def qualityFromCounts(nTokens: Column, nPunct: Column, sEn: Column): Column = {
    val nTok = nTokens.cast("double")
    val lenScore = least(nTok / lit(50.0), lit(1.0))
    val punctRatio = nPunct.cast("double") / greatest(nTok, lit(1.0))
    val punctScore = when(punctRatio <= 0.2, 1.0).otherwise(lit(1.0) - punctRatio)
    val swScore = least(
      sEn.cast("double") / greatest(nTok, lit(1.0)) * 5.0, lit(1.0))
    floor((lenScore * 0.4 + punctScore * 0.3 + swScore * 0.3) * 10000).cast("long")
  }

  /** (doc_id, counts + per-language scores + fp) projection — every
    * regex runs exactly once per document here.
    */
  def scoreFrame(docs: DataFrame): DataFrame =
    docs.select(Seq(
      col("doc_id"),
      tokenCount(col("text")).cast("long").as("n_tokens"),
      length(col("text")).cast("long").as("n_chars"),
      punctCount(col("text")).cast("long").as("n_punct"),
      fingerprint(col("text")).as("fp")) ++
      stopwords.map { case (l, _) => langScore(col("text"), l).as(s"s_$l") }: _*)

  /** Per-document stats frame over a `documents`-shaped table. */
  def stats(docs: DataFrame): DataFrame =
    scoreFrame(docs).select(
      col("doc_id"),
      col("n_tokens"),
      col("n_chars"),
      col("n_punct"),
      qualityFromCounts(col("n_tokens"), col("n_punct"), col("s_en")).as("quality"),
      langIdFromScores(stopwords.map { case (l, _) => l -> col(s"s_$l") }).as("lang_pred"),
      col("fp"))

  /** PII detection/redaction regexes — RE2-safe subset (no lookaround,
    * no \b) so the same pattern runs identically in any engine's regex
    * dialect; greedy leftmost-longest semantics agree between Java
    * regex and RE2 for these shapes. Source of truth lives with the
    * fused scanner ([[graft.functions.PiiUtil]]) that compiles them.
    */
  val emailRe: String = graft.functions.PiiUtil.emailRe
  val phoneRe: String = graft.functions.PiiUtil.phoneRe
  val ipRe: String = graft.functions.PiiUtil.ipRe

  /** Per-doc PII counts + the fingerprint of the redacted text. Order
    * matters: IPs redact BEFORE phones cannot collide (disjoint
    * shapes), but emails must go first — the email local part may
    * contain digit runs a later pattern could clip.
    *
    * The scan is ONE fused codegen'd expression
    * ([[graft.functions.PiiScanExpr]]: 1 string conversion + 5 matcher
    * passes per row, vs 6 independent regex expressions with 2 extra
    * intermediate strings in the built-in chain) — the DeflateSizeExpr
    * discipline applied to the most expensive pure scan of the 10x
    * bench. The struct is aliased once and its fields projected from
    * the alias; CollapseProject does not re-inline a multiply-referenced
    * non-cheap expression, and TextSpec pins both the plan (exactly one
    * graft_pii_scan) and row equality with [[piiScrubBuiltin]].
    */
  def piiScrub(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.PiiScanExpr(col("text")).as("pii"))
      .select(
        col("doc_id"),
        col("pii.n_emails").as("n_emails"),
        col("pii.n_ips").as("n_ips"),
        col("pii.n_phones").as("n_phones"),
        md5(col("pii.redacted")).as("redacted_fp"))

  /** The composed built-in form [[piiScrub]] replaced — kept as the
    * equivalence twin TextSpec gates the fused scanner against (row
    * equality on the planted-PII fixture plus the raw corpus).
    */
  private[graft] def piiScrubBuiltin(docs: DataFrame): DataFrame = {
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), emailRe, "[EMAIL]"),
        ipRe, "[IP]"),
      phoneRe, "[PHONE]")
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(emailRe)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(ipRe)).cast("long").as("n_ips"),
      regexp_count(col("text"), lit(phoneRe)).cast("long").as("n_phones"),
      md5(redacted).as("redacted_fp"))
  }

  /** Exploded (doc_id, w) token rows — the shared base of the retrieval
    * scorers below.
    */
  private def tokenRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")

  /** BM25 keyword retrieval: top-k documents for a fixed bag of query
    * terms (Okapi BM25, k1/b standard). `doc_id` is a key of `docs`.
    *
    * Scale shape: one tokenize pass per document
    * ([[graft.functions.TermCountsExpr]]) yields its length dl and the
    * tf of every query term; one global aggregate over that frame gives
    * the corpus stats (docs, tokens) and each term's df, and is
    * broadcast; the score is one projection over the documents that
    * hold a query term. No token row is ever materialized and nothing
    * corpus-sized is shuffled. The per-term partial scores are summed in
    * FIXED term order (floating addition is not associative; a
    * free-order SUM would be ulp-nondeterministic vs any oracle — same
    * discipline as the left-to-right dot product in Similarity).
    */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75, k: Int = 20): DataFrame = {
    val c = col("c")
    val dl = c.getItem(0)
    def tf(i: Int): Column = c.getItem(i + 1)
    val counts = docs.select(col("doc_id"),
      graft.functions.TermCountsExpr(col("text"), terms).as("c"))
    val corpus = counts.agg(count_if(dl > 0).as("n_docs"),
      sum(dl).as("tok_total") +: terms.indices.map(i => count_if(tf(i) > 0).as(s"df$i")): _*)
    val avgdl = col("tok_total").cast("double") / col("n_docs")
    val perTerm = terms.indices.map { i =>
      val df = col(s"df$i")
      val idf = log((col("n_docs") - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0))
      when(tf(i) > 0, idf * (tf(i) * lit(k1 + 1.0)) /
        (tf(i) + lit(k1) * (lit(1.0 - b) + lit(b) * dl / avgdl))).otherwise(lit(0.0))
    }
    counts.filter(terms.indices.map(i => tf(i) > 0).reduce(_ || _))
      .crossJoin(broadcast(corpus))
      .select(col("doc_id"), round(perTerm.reduceLeft(_ + _), 6).as("bm25"))
      .orderBy(desc("bm25"), asc("doc_id"))
      .limit(k)
  }

  /** Discount vector for [[ndcgEval]]: floor(1e9 / log2(pos + 1)) for
    * positions 1..k — position-indexed CONSTANTS, so the graded-gain DCG
    * below is pure integer arithmetic on both engines (the one float op
    * happens once here, in the driver, and the SAME literals are
    * interpolated into the SQL mirror — a log2 evaluated per-row would
    * be another float-gated family).
    */
  def ndcgDiscX1e9(k: Int): Seq[Long] =
    (1 to k).map(i => (1e9 / (math.log(i + 1.0) / math.log(2.0))).toLong)

  /** nDCG@k of the BM25 ranking against term-overlap graded relevance
    * (rel(d) = number of distinct query terms present in d; gain =
    * 2^rel − 1). The ideal ranking is the TRUE corpus-wide ideal — the
    * top-k relevance grades over every document, not just the retrieved
    * set — so a ranker that misses a relevant doc is penalized.
    *
    * Scale shape: relevance is one corpus aggregation filtered to the
    * query terms BEFORE the shuffle (the bm25TopK tf discipline); the
    * ideal top-k is a k-row orderBy-limit over the |relevant docs|
    * frame; DCG joins the k-row ranking to the relevance frame keyed on
    * doc_id. With the constant discount vector the whole readout is
    * exact BIGINT arithmetic — hash-gated, no float in sight.
    */
  def ndcgEval(docs: DataFrame, terms: Seq[String], k: Int = 10): DataFrame = {
    val disc = ndcgDiscX1e9(k)
    val discCol = expr(s"element_at(array(${disc.mkString("L, ")}L), CAST(pos AS INT))")
    // gain = 2^rel - 1, reading the in-scope "rel" column
    val gainCol = expr("shiftleft(1L, CAST(rel AS INT))") - 1
    val rel = tokenRows(docs)
      .filter(col("w").isin(terms: _*))
      .groupBy("doc_id").agg(countDistinct("w").as("rel"))
    val ranked = bm25TopK(docs, terms, k = k)
      .select(col("doc_id"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(desc("bm25"), asc("doc_id"))).cast("long").as("pos"))
    val dcg = ranked.join(rel, Seq("doc_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0L)))
      .agg(sum(gainCol * discCol).cast("long").as("dcg_x1e9"))
    // top-k first via distributed sort-limit (TakeOrderedAndProject);
    // the row_number window then runs on a ≤k-row frame, never on the
    // corpus-fraction-sized relevance frame
    val ideal = rel.orderBy(desc("rel"), asc("doc_id")).limit(k)
      .select(col("rel"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(desc("rel"), asc("doc_id"))).cast("long").as("pos"))
      .agg(sum(gainCol * discCol).cast("long").as("idcg_x1e9"),
        count(lit(1)).cast("long").as("n_ideal"))
    dcg.crossJoin(broadcast(ideal))
      .select(col("dcg_x1e9"), col("idcg_x1e9"), col("n_ideal"),
        expr("dcg_x1e9 * 1000000L div idcg_x1e9").cast("long").as("ndcg_x1e6"))
  }

  /** Recall@k / MRR of the BM25 ranking against binary relevance
    * (relevant = doc contains ≥ `minRel` distinct query terms) — the
    * set-based evaluation pair to [[ndcgEval]]'s graded one. All exact
    * integers: MRR×1e6 is 1e6 div first-relevant-rank (0 when the list
    * holds no relevant doc), recall@k is an integer rational over the
    * corpus-wide relevant count. Same scale shape as ndcgEval — the
    * relevance aggregate is term-filtered before its shuffle, the list
    * is k rows.
    */
  def recallMrrEval(docs: DataFrame, terms: Seq[String], k: Int = 20,
      minRel: Int = 2): DataFrame = {
    val rel = tokenRows(docs)
      .filter(col("w").isin(terms: _*))
      .groupBy("doc_id").agg(countDistinct("w").as("nterms"))
      .filter(col("nterms") >= minRel)
      .select(col("doc_id"), lit(1L).as("is_rel"))
    val nRel = rel.agg(count(lit(1)).as("n_relevant"))
    val ranked = bm25TopK(docs, terms, k = k)
      .select(col("doc_id"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(desc("bm25"), asc("doc_id"))).cast("long").as("pos"))
    ranked.join(rel, Seq("doc_id"), "left")
      .withColumn("is_rel", coalesce(col("is_rel"), lit(0L)))
      .agg(min(when(col("is_rel") === 1, col("pos"))).as("first_rel_rank"),
        sum(when(col("is_rel") === 1 && col("pos") <= 5, 1L).otherwise(0L)).as("h5"),
        sum(when(col("is_rel") === 1 && col("pos") <= 10, 1L).otherwise(0L)).as("h10"),
        sum(when(col("is_rel") === 1 && col("pos") <= k, 1L).otherwise(0L)).as("hk"))
      .crossJoin(broadcast(nRel))
      .select(
        col("n_relevant").cast("long").as("n_relevant"),
        coalesce(col("first_rel_rank"), lit(0L)).cast("long").as("first_rel_rank"),
        coalesce(expr("1000000L div first_rel_rank"), lit(0L)).cast("long").as("mrr_x1e6"),
        expr("h5 * 1000000L div n_relevant").cast("long").as("recall5_x1e6"),
        expr("h10 * 1000000L div n_relevant").cast("long").as("recall10_x1e6"),
        expr("hk * 1000000L div n_relevant").cast("long").as(s"recall${k}_x1e6"))
  }

  /** Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty,
    * SIGIR'01): score(d) = Σ_t ln((tf + μ·cf_t/|C|) / (|d| + μ)) over
    * the query terms, μ the Dirichlet prior. Every document scores on
    * every query term (absent terms contribute the smoothed background
    * mass — that is the point of the LM approach vs BM25's
    * matched-terms-only sum). Per-(doc, term) terms are floored ×1e6
    * BEFORE the integer sum (order-free — the PSI discipline; boundary
    * margins in FloatGateSpec); to keep the ln argument a fixed IEEE op
    * sequence on both engines it is evaluated as
    * ln((tf·|C| + μ·cf_t) / (|C|·(dl + μ))) — all-integer numerator and
    * denominator, ONE division, one ln.
    *
    * Scale shape: per-doc lengths and the |terms|-row cf frame are the
    * only corpus aggregations; the score frame is dl × |terms| rows
    * (corpus-linear for a fixed query), built by a broadcast of the
    * term frame, then tf left-joined keyed on (doc_id, w) from a
    * term-filtered pre-shuffle aggregate. Top-k by (score desc, doc_id).
    */
  def qlDirichletTopK(docs: DataFrame, terms: Seq[String], mu: Long = 2000L,
      k: Int = 20): DataFrame = {
    val toks = tokenRows(docs)
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val cf = toks.filter(col("w").isin(terms: _*))
      .groupBy("w").agg(count(lit(1)).as("cf"))
    val ctotal = toks.agg(count(lit(1)).as("c_total"))
    val tf = toks.filter(col("w").isin(terms: _*))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    // every doc × every query term (docs with no query term score too)
    val termFrame = cf.crossJoin(broadcast(ctotal))
    dl.crossJoin(broadcast(termFrame))
      .join(tf, Seq("doc_id", "w"), "left")
      .withColumn("tf", coalesce(col("tf"), lit(0L)))
      .withColumn("term_x1e6", floor(log(
        (col("tf") * col("c_total") + lit(mu) * col("cf")).cast("double") /
          (col("c_total") * (col("dl") + lit(mu))).cast("double")) * lit(1e6))
        .cast("long"))
      .groupBy("doc_id")
      .agg(sum("term_x1e6").cast("long").as("ql_x1e6"))
      .orderBy(desc("ql_x1e6"), asc("doc_id"))
      .limit(k)
  }

  /** Top `perDoc` TF-IDF terms for each doc in a target id range, with
    * document frequencies taken over the FULL corpus. The corpus-wide
    * (doc, term) tf aggregate is the inherent cost (partial-agg'd
    * counts); the target slice then joins df on the term key and ranks
    * within each doc — no corpus-sized sort.
    */
  def tfidfTopTerms(docs: DataFrame, maxDocId: Long = 30L,
      perDoc: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = tokenRows(docs).groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val ndocs = docs.agg(count(lit(1)).as("n_docs"))
    val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), asc("w"))
    tf.filter(col("doc_id") < maxDocId)
      .join(df, "w")
      .crossJoin(broadcast(ndocs))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= perDoc)
      .select(col("doc_id"), col("w"), col("tfidf"), col("rnk").cast("int").as("rnk"))
  }

  /** Sparse TF-IDF cosine similarity — the LEXICAL near-dup/similarity
    * signal next to the embedding-cosine family: candidates from the
    * term-keyed inverted-index self-join (only docs sharing a kept term
    * can pair — no all-pairs anywhere), verified by an EXACT-INTEGER
    * cosine²: per-(doc, term) weights are floor(tf·ln(N/df)·1000)
    * BIGINT (one floored ln per cell — the PSI discipline, margins in
    * FloatGateSpec), so dot products and norms are order-free
    * DECIMAL(38,0) sums and cos²·1e6 = num²·1e6 div (‖a‖²·‖b‖²) is a
    * rational — no float sqrt, and ranking by cos² ≡ ranking by cos.
    *
    * Stop-term guard: terms with df > `maxTermDf` are dropped BEFORE
    * pairing (the containment discipline — a ubiquitous term otherwise
    * fans out O(df²) pairs), and norms run over the SAME kept-term
    * space so the ratio stays consistent. Σ_t df² ≤ cap·|doc-term rows|
    * bounds the join. Pass `containmentSchedule(n)` for the
    * corpus-scheduled cap.
    */
  def tfidfCosinePairs(docs: DataFrame, threshold2X1e6: Long = 640000L,
      maxTermDf: Int = 128): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val tf = tokenRows(docs).groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val ndocs = docs.agg(count(lit(1)).as("n_docs"))
    val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxTermDf)
    val wts = tf.join(df, "w").crossJoin(broadcast(ndocs))
      .withColumn("wt", floor(col("tf") *
        log(col("n_docs").cast("double") / col("df")) * lit(1000.0)).cast("long"))
      .filter(col("wt") > 0)
      .select("doc_id", "w", "wt")
    val norms = wts.groupBy("doc_id")
      .agg(sum(dec(col("wt")) * dec(col("wt"))).as("n2"))
    val num = wts.select(col("doc_id").as("a"), col("w"), col("wt").as("wa"))
      .join(wts.select(col("doc_id").as("b"), col("w"), col("wt").as("wb")), "w")
      .filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(sum(dec(col("wa")) * dec(col("wb"))).as("num"))
    num
      .join(norms.select(col("doc_id").as("a"), col("n2").as("na2")), "a")
      .join(norms.select(col("doc_id").as("b"), col("n2").as("nb2")), "b")
      .withColumn("cos2_x1e6",
        expr("CAST(num * num * 1000000 div (na2 * nb2) AS BIGINT)"))
      .filter(col("cos2_x1e6") >= threshold2X1e6)
      .select(col("a"), col("b"), col("cos2_x1e6"))
      .orderBy("a", "b")
  }

  /** In-engine linear-probe training: full-batch gradient descent on a
    * 4-feature language probe (length, punctuation ratio, English
    * stopword signal, bias → does the doc read as English), entirely in
    * INTEGER fixed-point so the training run is bit-identical on any
    * engine or partitioning — the distributed-ML primitive (one
    * aggregation per step, gradients are order-free integer sums) with
    * none of MLlib's float nondeterminism.
    *
    * Units: features and weights in milli (x·1000); predictions
    * p = (Σ f·w) div 1000 and updates w ← w − g div (4000·n) use
    * TRUNCATING division, which Spark's `div` and DuckDB's `//` agree
    * on for signed operands (verified: −7 div 2 = −3 on both). The
    * effective learning rate is 0.25/n — safely under 2/λmax for
    * features in [0, 1]. Per-row gradient terms are summed as
    * DECIMAL(38,0) (the cooccurrence discipline: a BIGINT sum wraps
    * silently past ~10¹² rows; DECIMAL fails loudly and DuckDB's
    * HUGEINT is exact).
    *
    * Scale: each step is ONE map-side-combinable aggregation over the
    * cached 5-column feature frame → a 6-value driver row (gradients +
    * SSE); the model never leaves the driver, the corpus never
    * reshuffles. Output: one row per step — pre-step MSE (×10⁶) and
    * post-step weights — the training curve a data-quality probe run
    * records.
    */
  /** The (cached) 5-column feature frame + GD fit shared by
    * [[linearProbe]] and [[probeCalibration]]: returns the cached
    * feature frame, the per-step curve, and the final weights. Caller
    * must unpersist the frame.
    */
  private def linearProbeFit(docs: DataFrame, iters: Int)
      : (DataFrame, Seq[(Long, Long, Long, Long, Long, Long)], Array[Long]) = {
    val feat = docs.select(
        tokenCount(col("text")).cast("long").as("nt"),
        punctCount(col("text")).cast("long").as("np"),
        langScore(col("text"), "en").cast("long").as("se"),
        when(col("lang") === "en", 1000L).otherwise(0L).as("y"))
      .select(
        (least(col("nt"), lit(500L)) * 2L).as("f1"),
        least(expr("(np * 1000) div greatest(nt, 1)"), lit(1000L)).as("f2"),
        least(expr("(se * 5000) div greatest(nt, 1)"), lit(1000L)).as("f3"),
        lit(1000L).as("f4"),
        col("y"))
      .cache()
    val n = feat.count()
    require(n > 0, "empty corpus")
    var w = Array(0L, 0L, 0L, 0L)
    val curve = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long, Long)]
    for (it <- 1 to iters) {
      val s = (0 until 4).map(j => col(s"f${j + 1}") * lit(w(j))).reduce(_ + _)
      val withR = feat.withColumn("r",
        graft.functions.GraftFunctions.longDiv(s, lit(1000L)) - col("y"))
      def dsum(c: Column): Column =
        sum(c.cast(org.apache.spark.sql.types.DecimalType(38, 0))).cast("long")
      val row = withR.agg(
        dsum(col("f1") * col("r")).as("g1"), dsum(col("f2") * col("r")).as("g2"),
        dsum(col("f3") * col("r")).as("g3"), dsum(col("f4") * col("r")).as("g4"),
        dsum(col("r") * col("r")).as("sse")).head()
      val g = (0 until 4).map(j => row.getAs[Long](s"g${j + 1}"))
      val mse = row.getAs[Long]("sse") / n
      w = w.zipWithIndex.map { case (wj, j) => wj - g(j) / (4000L * n) }
      curve += ((it.toLong, mse, w(0), w(1), w(2), w(3)))
    }
    (feat, curve.toSeq, w)
  }

  def linearProbe(docs: DataFrame, iters: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (feat, curve, _) = linearProbeFit(docs, iters)
    try curve.toDF("iter", "mse_x1e6", "w1", "w2", "w3", "w4")
    finally { feat.unpersist(); () }
  }

  /** Calibration report for the trained probe: score every doc with the
    * FINAL weights, bucket predictions into 25-milli bins (clamped to
    * [0, 40]), and report per-bucket volume, actual-positive count and
    * mean prediction — the reliability-diagram table that decides
    * whether the probe's scores can gate a curation pipeline. Training
    * is [[linearProbeFit]] (bit-shared with `text_linear_probe`);
    * scoring is one more pass over the cached feature frame into an
    * 11-row aggregate.
    */
  def probeCalibration(docs: DataFrame, iters: Int = 3): DataFrame = {
    val (feat, _, w) = linearProbeFit(docs, iters)
    try {
      val s = (0 until 4).map(j => col(s"f${j + 1}") * lit(w(j))).reduce(_ + _)
      feat.withColumn("p", graft.functions.GraftFunctions.longDiv(s, lit(1000L)))
        .withColumn("bucket",
          least(greatest(graft.functions.GraftFunctions.longDiv(col("p"), lit(25L)),
            lit(0L)), lit(40L)))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("y") === 1000L, 1L).otherwise(0L)).as("n_en"),
          expr("sum(p) div count(*)").as("mean_p_milli"))
        .orderBy("bucket")
    } finally { feat.unpersist(); () }
  }

  /** BPE merge table: `rounds` byte-pair-encoding merges over the
    * ALNUM-NORMALIZED word-frequency vocabulary (symbols are [a-z0-9]
    * strings, so merge alternations are regex-literal-safe with no
    * escaping in either engine). Per round, every word is re-segmented
    * by greedy longest-merge-first regex alternation
    * (`m_long|...|m_short|.` — the standard greedy approximation of
    * sequential merge application; both engines run the same
    * leftmost-first alternation, so segmentation replays exactly) and
    * the most frequent adjacent symbol pair (ties → lexicographically
    * smallest) becomes the round's merge.
    *
    * Scale design: the corpus is scanned ONCE for word frequencies; the
    * merge loop's `rounds` aggregations run over the CACHED vocab table
    * — Heaps-law sized (~√corpus), not corpus-sized. The per-round
    * driver collect is a single row (the argmax pair), same bounded
    * discipline as the IVF centroid pull; output is the `rounds`-row
    * merge table itself. The segmentation regex is bound as a lambda
    * variable (the compressibility-proxy rule) so each word is
    * re-segmented once per round, not once per symbol position.
    */
  /** Longest-first alternation for a merge list — the segmentation
    * pattern both engines share.
    */
  private def bpePattern(merges: Seq[String]): String =
    if (merges.isEmpty) "."
    else merges.sortBy(p => (-p.length, p)).mkString("", "|", "|.")

  /** The cached word-freq frame + trained merges shared by
    * [[bpeMerges]] and [[bpeApply]]; caller unpersists the frame.
    */
  private def bpeFit(docs: DataFrame, rounds: Int)
      : (DataFrame, Seq[(Long, String, Long)]) = {
    val wf = docs
      .select(explode(split(lower(col("text")), "\\s+")).as("w0"))
      .select(regexp_replace(col("w0"), "[^a-z0-9]", "").as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("f"))
      .cache()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    for (r <- 1 to rounds) {
      val pat = bpePattern(merges.map(_._2).toSeq)
      val top = wf
        .select(col("f"), element_at(
          transform(array(regexp_extract_all(col("w"), lit(pat), lit(0))), sg =>
            when(size(sg) >= 2,
              transform(sequence(lit(1), size(sg) - 1),
                i => concat(element_at(sg, i), element_at(sg, i + 1))))
              .otherwise(array().cast("array<string>"))), 1).as("prs"))
        .select(col("f"), explode(col("prs")).as("pair"))
        .groupBy("pair").agg(sum(col("f")).as("cnt"))
        .orderBy(desc("cnt"), asc("pair")).limit(1)
        .collect()(0)
      merges += ((r.toLong, top.getAs[String]("pair"), top.getAs[Long]("cnt")))
    }
    (wf, merges.toSeq)
  }

  def bpeMerges(docs: DataFrame, rounds: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (wf, merges) = bpeFit(docs, rounds)
    try merges.toDF("round", "pair", "cnt")
    finally { wf.unpersist(); () }
  }

  /** Apply the trained merge table: segment the vocab with the FINAL
    * longest-first alternation and report the frequency-weighted usage
    * of each LEARNED (multi-char) symbol — the "is the tokenizer's
    * inventory actually used" readout, and the apply-side complement of
    * [[bpeMerges]] (usage counts differ from training-round counts
    * because all merges apply simultaneously here). Same cost shape:
    * one corpus scan + vocab-order work.
    */
  def bpeApply(docs: DataFrame, rounds: Int = 5, k: Int = 10): DataFrame = {
    val (wf, merges) = bpeFit(docs, rounds)
    try {
      val pat = bpePattern(merges.map(_._2))
      wf.select(col("f"),
          explode(regexp_extract_all(col("w"), lit(pat), lit(0))).as("sym"))
        .filter(length(col("sym")) > 1)
        .groupBy("sym").agg(sum(col("f")).as("cnt"))
        .orderBy(desc("cnt"), asc("sym")).limit(k)
    } finally { wf.unpersist(); () }
  }

  /** Tokenizer fertility per source: BPE tokens emitted per word under
    * the merge table trained on the WHOLE corpus (the cross-source
    * comparability is the point — a source whose vocabulary the shared
    * tokenizer segments poorly reads high). Segment counts come from
    * the same longest-first alternation as [[bpeApply]]; the corpus
    * pays the global training scan plus ONE per-(source, word) collapse,
    * and the segmentation regex runs over that vocab-sized frame, never
    * the corpus.
    */
  def bpeFertility(docs: DataFrame, rounds: Int = 5): DataFrame = {
    val (wf, merges) = bpeFit(docs, rounds)
    try {
      val pat = bpePattern(merges.map(_._2))
      docs
        .select(col("source"),
          explode(split(lower(col("text")), "\\s+")).as("w0"))
        .select(col("source"),
          regexp_replace(col("w0"), "[^a-z0-9]", "").as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy("source", "w").agg(count(lit(1)).as("f"))
        .select(col("source"), col("f"),
          size(regexp_extract_all(col("w"), lit(pat), lit(0))).cast("long")
            .as("nseg"))
        .groupBy("source")
        .agg(sum(col("f")).cast("long").as("n_words"),
          sum(col("f") * col("nseg")).cast("long").as("n_bpe_tokens"))
        .withColumn("fertility_x1e6",
          expr("n_bpe_tokens * 1000000L div n_words"))
        .orderBy("source")
    } finally { wf.unpersist(); () }
  }
}
