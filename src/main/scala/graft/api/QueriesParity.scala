package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Engine
import graft.expr.PatternCompiler
import graft.model.{ArrayOp, TriplePattern}
import QueriesShared._

/** Reference parity: triple patterns + ArrayOp algebra + GREMLIN-shaped graph ops.
  *
  * One contiguous, ORDER-PRESERVING slice of the declared query
  * surface; [[Queries.registry]] concatenates the slices in the
  * original declaration order. Entries are (name -> Q) pairs exactly
  * as they appeared in the pre-split Queries.scala.
  */
private[api] object QueriesParity {
  val entries: Seq[(String, Q)] = Seq(
    // ===== Reference parity: triple patterns + ArrayOp algebra =====
    // Operator #8/#10 (triple-pattern match, pattern query execute)
    "tp_subject" -> Q(
      (s, d) => Tables.starTriples(s, d)
        .filter(PatternCompiler.compile(ArrayOp.of(pat(subj = "cust:42"))))
        .select("subj", "pred", "obj").orderBy("pred", "obj"),
      Some(withCte(
        "SELECT subj, pred, obj FROM triples WHERE subj = 'cust:42' ORDER BY pred, obj"))),

    // Operator #9 (AND combinator)
    "tp_and" -> Q(
      (s, d) => Tables.starTriples(s, d)
        .filter(PatternCompiler.compile(ArrayOp.And(Seq(
          pat(pred = "mktsegment"), pat(obj = "BUILDING")))))
        .select("subj", "pred", "obj").orderBy("subj"),
      Some(withCte(
        "SELECT subj, pred, obj FROM triples WHERE pred = 'mktsegment' AND obj = 'BUILDING' ORDER BY subj"))),

    // Operator #9 (OR combinator — the proto3 default mode)
    "tp_or" -> Q(
      (s, d) => Tables.starTriples(s, d)
        .filter(PatternCompiler.compile(ArrayOp.Or(
          triples = Seq(pat(subj = "nation:3")),
          args = Seq(ArrayOp.And(Seq(pat(pred = "mktsegment"), pat(obj = "MACHINERY")))))))
        .select("subj", "pred", "obj").orderBy("subj", "pred", "obj"),
      Some(withCte(
        """SELECT subj, pred, obj FROM triples
          |WHERE subj = 'nation:3' OR (pred = 'mktsegment' AND obj = 'MACHINERY')
          |ORDER BY subj, pred, obj""".stripMargin))),

    // Operator #9 (NOT combinator — row-level negation)
    "tp_not" -> Q(
      (s, d) => Tables.starTriples(s, d)
        .filter(PatternCompiler.compile(ArrayOp.And(
          triples = Seq(pat(pred = "nation")),
          args = Seq(ArrayOp.Not(Seq(pat(obj = "nation:3")))))))
        .select("subj", "pred", "obj").orderBy("subj", "obj"),
      Some(withCte(
        """SELECT subj, pred, obj FROM triples
          |WHERE pred = 'nation' AND NOT (obj = 'nation:3')
          |ORDER BY subj, obj""".stripMargin))),

    // Operator #11 (multi-step traversal): order → customer → nation → name.
    // The derived triples view is scanned once per step — cache it for
    // the iteration (same pattern GraphX uses for iterative algorithms).
    "tp_traverse" -> Q(
      (s, d) => Engine.traverse(Tables.starTriples(s, d), Seq(
          ArrayOp.of(pat(subj = "order:1"), pat(subj = "order:2"), pat(subj = "order:3"),
            pat(subj = "order:4"), pat(subj = "order:5")),
          ArrayOp.of(pat(pred = "nation")),
          ArrayOp.of(pat(pred = "name"))))
        .select("subj", "pred", "obj").orderBy("subj"),
      Some(withCte(
        """SELECT DISTINCT t3.subj AS subj, t3.pred AS pred, t3.obj AS obj
          |FROM triples t1
          |JOIN triples t2 ON t2.subj = t1.obj AND t2.pred = 'nation'
          |JOIN triples t3 ON t3.subj = t2.obj AND t3.pred = 'name'
          |WHERE t1.subj IN ('order:1','order:2','order:3','order:4','order:5')
          |ORDER BY subj""".stripMargin))),

    // Operator #2 (insert with dedup — the anti-join identity check)
    "tp_insert_dedup" -> Q(
      (s, d) => {
        val all = Tables.starTriples(s, d)
        val existing = all.filter(col("pred").isin("name", "mktsegment"))
        val incoming = all.filter(col("subj").startsWith("cust:"))
        incoming.join(existing, Seq("subj", "pred", "obj"), "left_anti")
          .agg(count(lit(1)).as("n"))
      },
      Some(withCte(
        """SELECT count(*) AS n FROM
          |  (SELECT * FROM triples WHERE subj LIKE 'cust:%') i
          |WHERE NOT EXISTS (
          |  SELECT 1 FROM (SELECT * FROM triples WHERE pred IN ('name','mktsegment')) e
          |  WHERE e.subj = i.subj AND e.pred = i.pred AND e.obj = i.obj)""".stripMargin))),

    // Operator #16 (count)
    "tp_count" -> Q(
      (s, d) => Tables.starTriples(s, d).agg(count(lit(1)).as("n")),
      Some(withCte("SELECT count(*) AS n FROM triples"))),

    // Operator #17 (sort) + #15 (limit)
    "tp_sort_limit" -> Q(
      (s, d) => Tables.starTriples(s, d)
        .select("subj", "pred", "obj")
        .orderBy("subj", "pred", "obj").limit(100),
      Some(withCte(
        "SELECT subj, pred, obj FROM triples ORDER BY subj, pred, obj LIMIT 100"))),

    // Operators #18/#19 (bloom build + bloom semi-join) on the store's
    // one builder and probe (TripleStore.buildBlooms/bloomProbe, one
    // slice). The bloom is FP-1e-9 over ~hundreds of keys, so it matches
    // the exact semi-join oracle (triplestore/bloom.go:39-73).
    "bloom_semijoin" -> Q(
      (s, d) => {
        val ts = graft.store.TripleStore
        val triples = Tables.starTriples(s, d)
        val wanted = triples.filter(col("pred") === "nation" && col("subj").startsWith("supp:"))
          .select(col("obj").as("k"), lit(0).as("s"))
        // one-nation-per-supplier keys stay dimension-scale, so the cap
        // is the MinBloomItems floor; a corpus exceeding it costs the
        // builder's exact re-pass, never a wrong answer
        val bf = ts.buildBlooms(wanted, Seq(ts.MinBloomItems))
        triples.filter(col("pred") === "name" &&
          ts.bloomProbe(s, col("subj"), lit(0), bf))
          .select("subj", "pred", "obj").orderBy("subj")
      },
      Some(withCte(
        """SELECT subj, pred, obj FROM triples t
          |WHERE pred = 'name' AND EXISTS (
          |  SELECT 1 FROM triples w
          |  WHERE w.pred = 'nation' AND w.subj LIKE 'supp:%' AND w.obj = t.subj)
          |ORDER BY subj""".stripMargin))),

    // ===== Extension: graph analytics (GREMLIN-shaped, SURVEY §2 #27) =====
    "graph_out_degree" -> Q(
      (s, d) => Tables.starTriples(s, d)
        .groupBy("subj").agg(count(lit(1)).as("deg"))
        .orderBy(desc("deg"), asc("subj")).limit(50),
      Some(withCte(
        "SELECT subj, count(*) AS deg FROM triples GROUP BY subj ORDER BY deg DESC, subj LIMIT 50"))),

    "graph_in_degree" -> Q(
      (s, d) => Tables.starTriples(s, d)
        .filter(col("obj").startsWith("nation:"))
        .groupBy("obj").agg(count(lit(1)).as("deg"))
        .orderBy(desc("deg"), asc("obj")),
      Some(withCte(
        """SELECT obj, count(*) AS deg FROM triples WHERE obj LIKE 'nation:%'
          |GROUP BY obj ORDER BY deg DESC, obj""".stripMargin)))

  )
}
