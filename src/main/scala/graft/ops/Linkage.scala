package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Record-linkage / entity-resolution operators: blocked fuzzy matching
  * (the generate-candidates-then-verify shape on STRING keys) and
  * aggressive canonicalization dedup.
  *
  * Scale shape: fuzzy matching never self-joins the full table — a
  * blocking key bounds each candidate group (here: all-but-the-last-k
  * characters, so a block holds ≤ alphabet^k rows), the edit-distance
  * verify runs only inside blocks, and the one shuffle is on the block
  * key. Block width is the knob: pairs ≈ rows · blockWidth / 2, linear
  * in the corpus at fixed width. Hot blocks (a common name prefix) are
  * AQE-skew-splittable because the verify is a plain join-then-filter.
  */
object Linkage {

  /** Distinct names with their multiplicity and blocking key (the name
    * minus its last `blockSuffix` chars). Collapsing to DISTINCT names
    * before any pairing is what makes the fuzzy join scale: a corpus
    * can repeat one name millions of times (the replicated 10× corpus
    * does exactly this), which would grow blocks — and the in-block
    * pair join quadratically — with the corpus. After the collapse a
    * block holds at most |charset|^blockSuffix distinct names, a
    * STRUCTURAL bound independent of corpus size; exact-dup mass rides
    * along as the multiplicity. (Measured: the pre-collapse form hit
    * 399.7 s at 10× — 96× its sf0.1 cost — the collapse returns it to
    * the flat distinct-name cost.)
    */
  private def distinctNames(rows: DataFrame, nameCol: String,
      blockSuffix: Int): DataFrame =
    rows.groupBy(col(nameCol).as("name"))
      .agg(count(lit(1)).as("m"))
      .withColumn("block",
        expr(s"substring(name, 1, length(name) - $blockSuffix)"))

  /** Candidate pairs of near-identical DISTINCT names: block, verify
    * with Levenshtein ≤ maxDist inside the block. Returns
    * (block, name_a, name_b, m_a, m_b, dist) with name_a < name_b;
    * m_a·m_b is the record-pair weight the pair stands for.
    */
  def fuzzyNamePairs(rows: DataFrame, nameCol: String,
      blockSuffix: Int = 2, maxDist: Int = 2): DataFrame = {
    val named = distinctNames(rows, nameCol, blockSuffix)
    // Edit distance over the SUFFIXES only — exact, not approximate:
    // equal blocks force equal name lengths (block = substring(1,
    // len−k), so len = |block| + k on both sides) and an identical
    // prefix (both equal the block), and stripping a shared prefix
    // never changes levenshtein (the DP's first |prefix| diagonal is
    // free — the standard common-prefix cancellation every edit-
    // distance library applies). That replaces an O(len²) DP per pair
    // with an O(k²) one (81× fewer cells at the 18-char fixture
    // names): measured 4.63 → 0.66 s on the in-block pair stage at
    // sf0.1, where the full-name DP was 78% of dedup_fuzzy_names.
    // The one exception: names with len ≤ k all share block "" without
    // sharing a prefix, so those pairs (and only those) keep the
    // full-name distance — their strings are ≤ k chars, already cheap.
    // The SQL oracle keeps levenshtein on the full names; the hash
    // gate is what certifies the identity.
    val lastK: String => Column = c =>
      expr(s"substring($c, length($c) - ${blockSuffix - 1}, $blockSuffix)")
    named.select(col("block"), col("name").as("name_a"), col("m").as("m_a"))
      .join(named.select(col("block"), col("name").as("name_b"), col("m").as("m_b")), "block")
      .filter(col("name_a") < col("name_b"))
      .withColumn("dist",
        when(length(col("name_a")) <= blockSuffix
            || length(col("name_b")) <= blockSuffix,
          levenshtein(col("name_a"), col("name_b")))
        .otherwise(levenshtein(lastK("name_a"), lastK("name_b"))))
      .filter(col("dist") <= maxDist)
      .select("block", "name_a", "name_b", "m_a", "m_b", "dist")
  }

  /** Linkage census: record-pair counts by edit distance — dist 0 is
    * the exact-dup mass C(m,2) summed over repeated names, dist ≥ 1
    * the blocked fuzzy pairs weighted by m_a·m_b.
    */
  def fuzzyNameSummary(rows: DataFrame, nameCol: String,
      blockSuffix: Int = 2, maxDist: Int = 2): DataFrame = {
    val named = distinctNames(rows, nameCol, blockSuffix)
    val exact = named.filter(col("m") > 1)
      .agg(sum(expr("m * (m - 1) div 2")).as("n_pairs"),
        countDistinct(col("block")).as("n_blocks"))
      .select(lit(0L).as("dist"), col("n_pairs").cast("long").as("n_pairs"),
        col("n_blocks"))
      .filter(col("n_pairs").isNotNull)
    val fuzzy = fuzzyNamePairs(rows, nameCol, blockSuffix, maxDist)
      .groupBy(col("dist").cast("long").as("dist"))
      .agg(sum(col("m_a") * col("m_b")).as("n_pairs"),
        countDistinct(col("block")).as("n_blocks"))
    exact.unionByName(fuzzy)
  }

  /** Aggressive canonical form: lowercase, strip everything that is not
    * a letter, digit or space, collapse whitespace. Catches the
    * punctuation/casing near-dups that the whitespace-only
    * [[TextOps.normalized]] fingerprint (dedup_exact's key) misses.
    *
    * Runs as the fused one-pass byte scan
    * ([[graft.functions.CanonicalTextExpr]]): the two-regex chain it
    * replaces (`Reference.canonicalBuiltin` in the test sources,
    * spec-gated equal) was measured as
    * 94% of `dedup_canonical`'s cost at 100× (ScaleProbe canon_*
    * decomposition). The DuckDB oracle keeps the regex formulation.
    */
  def canonical(text: Column): Column =
    graft.functions.CanonicalTextExpr(text)

  /** Duplicate groups under the aggressive canonicalization, tagged with
    * whether the whitespace-normalized fingerprint already catches them
    * (`exact_too`) — the delta rows are what canonicalization alone
    * buys. Same one-shuffle group-by-hash shape as exact dedup.
    */
  def canonicalGroups(docs: DataFrame): DataFrame =
    docs.select(md5(canonical(col("text"))).as("cfp"),
        TextOps.fingerprint(col("text")).as("fp"), col("doc_id"))
      .groupBy("cfp")
      .agg(count(lit(1)).as("n"), min("doc_id").as("canonical_id"),
        // "all fps equal" as min = max, NOT countDistinct = 1: the
        // distinct agg plans an Expand (every row shuffled twice, once
        // per grouping set) for a predicate min/max answer in a single
        // hash-agg pass — fp is md5, never null, so the two are
        // equivalent. The DuckDB oracle keeps count(DISTINCT fp) = 1.
        (min(col("fp")) === max(col("fp"))).as("exact_too"))
      .filter(col("n") > 1)
}
