package perfbench

import org.apache.spark.sql.{DataFrame, Row}

import graft.engine.Engine
import graft.model.Triple
import graft.store.TripleStore
import Gen.{Row4, ServeOp}

/** `triple_serve`: the store's read path under a closed loop of two
  * clients. Set-up loads the generated graph into a 64-bucket store, then
  * warms up on one block of the mix drawn outside the measured stream, so
  * no kind of op runs for the first time inside the window.
  */
object Serve {
  val Clients = 2
  val Buckets = 64
  val Triples = 100000
  /** Measured blocks per run at least. A block's cost moves with the
    * subjects and predicates its seed drew (by about 5% either way between
    * seeds); a run of two blocks averages two such draws.
    */
  val MinBlocks = 2

  def rows4(rows: Array[Row]): Seq[Row4] =
    rows.toSeq.map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))

  def sameRows(got: Seq[Row4], want: Seq[Row4]): Boolean =
    got.size == want.size && got.sorted == want.sorted

  def toTriple(r: Row4): Triple = Triple(r._1, r._2, r._3, r._4)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val a = ctx.args
    val tg = System.nanoTime()
    val (g, input) = ctx.input {
      val g = new Gen.Graph(a.seed, math.max(1000, (Triples * a.scale).toInt))
      // the generated graph reaches the store as a bulk-load file
      val staged = ctx.dir("serve/input")
      g.triples.toDF().write.parquet(staged)
      (g, spark.read.parquet(staged))
    }
    val genS = Stats.s(System.nanoTime() - tg)

    val tl = System.nanoTime()
    val store = new TripleStore(spark, ctx.dir("serve/store"), Buckets)
    val loaded = store.insert(input)
    val loadS = Stats.s(System.nanoTime() - tl)
    ctx.check(loaded == g.index.size, s"store load inserted $loaded of ${g.index.size}")
    val engine = new Engine(store)
    val stream = new Gen.ServeStream(a.seed, g)

    def exec(op: ServeOp): Unit =
      op match {
        case ServeOp.Query(kind, q, want) =>
          ctx.timed(kind, compiles = Some(q))(store.query(q))(df => rows4(df.collect()))(
            sameRows(_, want), _.size)
        case ServeOp.Limited(q, limit, size) =>
          ctx.timed("unrooted", compiles = Some(q))(store.query(q, limit))(df => rows4(df.collect()))(
            got => got.size == size && got.forall(r => Gen.matches(q, toTriple(r))), _.size)
        case ServeOp.Traverse(steps, want) =>
          ctx.timed("traverse", Map("hops" -> (steps.size - 1)))(engine.executeQuery(steps))(
            df => rows4(df.collect()))(sameRows(_, want), _.size)
        case ServeOp.Json(json, want) =>
          ctx.timed("json")(engine.queryJson(json))(df => rows4(df.collect()))(sameRows(_, want), _.size)
        case ServeOp.Count(n) => ctx.action("count")(store.count())(_ == n)
      }

    /** The closed loop: each client takes the next op once its last one
      * has completed, until `next` has none left.
      */
    def closedLoop(next: () => Option[ServeOp]): Unit = {
      val clients = (0 until Clients).map { _ =>
        val t = new Thread(() =>
          Iterator.continually(next()).takeWhile(_.isDefined).flatten.foreach(exec))
        t.start()
        t
      }
      clients.foreach(_.join())
    }

    // warm-up: one whole block of the mix, drawn from the stream of the
    // complemented seed, which the measured window never draws. One op of
    // each kind left enough JIT work in the window to raise the CPU time
    // per measured op by about a third.
    val tw = System.nanoTime()
    val warm = new java.util.concurrent.ConcurrentLinkedQueue[ServeOp]()
    val warmStream = new Gen.ServeStream(~a.seed, g)
    Gen.ServeStream.Block.indices.foreach(i => warm.add(warmStream.op(i)))
    closedLoop(() => Option(warm.poll()))
    val warmS = Stats.s(System.nanoTime() - tw)
    ctx.startMeasuring()

    // the window closes at the first block boundary after `seconds` and
    // `MinBlocks` blocks, so a run measures whole blocks of the mix
    val block = Gen.ServeStream.Block.size
    var issued = 0L
    var closed = false
    val t0 = System.nanoTime()
    val deadline = t0 + (a.seconds * 1e9).toLong
    def nextOp(): Option[Long] = synchronized {
      if (!closed && issued % block == 0 && issued >= MinBlocks * block &&
          System.nanoTime() >= deadline)
        closed = true
      if (closed) None else { issued += 1; Some(issued - 1) }
    }
    closedLoop(() => nextOp().map(i => if (a.corrupt && i == 0) corrupt(stream.op(i)) else stream.op(i)))
    ctx.stopMeasuring()
    val wallS = Stats.s(System.nanoTime() - t0)

    val reads = ctx.of("lookup", "or_lookup", "unrooted", "traverse", "json", "count")
    val lat = reads.map(s => Stats.ms(s.totalNs))
    val bytes = store.info().diskBytes.toDouble
    val e2e = Seq(
      "read_p50_ms" -> M(Stats.median(lat), "ms"),
      "read_p95_ms" -> M(Stats.quantile(lat, 0.95), "ms"),
      "throughput_per_s" -> M(reads.size / wallS, "1/s"))
    val extra = Seq(
      "setup_wall_s" -> M(ctx.sessionStartS + loadS + warmS, "s"),
      "traverse_p50_ms" -> M(Stats.median(ctx.of("traverse").map(s => Stats.ms(s.totalNs))), "ms"),
      "construct_share" -> M(reads.map(_.constructNs).sum.toDouble / reads.map(_.totalNs).sum, "ratio"),
      "stored_bytes_per_triple" -> M(bytes / g.index.size, "B"),
      "store_load_s" -> M(loadS, "s"),
      "session_start_s" -> M(ctx.sessionStartS, "s"),
      "warmup_s" -> M(warmS, "s"),
      "generate_s" -> M(genS, "s"),
      "read_ops" -> M(reads.size, "count"),
      "triples" -> M(g.index.size, "count"))
    Outcome(e2e, extra)
  }

  /** The self-test's deliberately wrong expected answer. */
  def corrupt(op: ServeOp): ServeOp = op match {
    case q: ServeOp.Query => q.copy(expected = q.expected :+ (("/corrupt", "", "", "")))
    case l: ServeOp.Limited => l.copy(expectedSize = l.expectedSize + 1)
    case t: ServeOp.Traverse => t.copy(expected = t.expected :+ (("/corrupt", "", "", "")))
    case j: ServeOp.Json => j.copy(expected = j.expected :+ (("/corrupt", "", "", "")))
    case c: ServeOp.Count => c.copy(expected = c.expected + 1)
  }
}
