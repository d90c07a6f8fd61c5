package perfbench

import java.security.{KeyPairGenerator, SecureRandom}
import java.security.spec.ECGenParameterSpec

import graft.functions.TripleCrypto
import graft.model.ArrayOp
import graft.store.TripleStore
import Gen.Row4

/** `triple_ingest`: the store's write path. Seeded batches land in an
  * initially empty store, each followed by read-after-write lookups of
  * subjects it just inserted; every second batch is followed by a
  * compaction. A replication phase then syncs two diverging replicas in
  * both directions, once with `sync` and once with `syncFromSliced(8)`.
  * Set-up loads the two replicas.
  */
object Ingest {
  val CompactEvery = 2
  val LookupsPerBatch = 3
  val BatchSize = 5000
  val ReplicaSize = 10000

  /** A signing key derived from the seed, so signed batches are inputs
    * like any other.
    */
  def key(seed: Long): TripleCrypto.KeyPair = {
    val rnd = SecureRandom.getInstance("SHA1PRNG")
    rnd.setSeed(seed)
    val gen = KeyPairGenerator.getInstance("EC")
    gen.initialize(new ECGenParameterSpec("secp256r1"), rnd)
    val kp = gen.generateKeyPair()
    TripleCrypto.KeyPair(kp.getPrivate.getEncoded, kp.getPublic.getEncoded)
  }

  /** Parquet files per bucket directory of a store. */
  def filesPerBucket(path: String): Seq[Int] =
    Option(new java.io.File(path).listFiles).toSeq.flatten.filter(_.getName.startsWith("bucket="))
      .map(d => Option(d.listFiles).toSeq.flatten.count(_.getName.endsWith(".parquet")))

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val a = ctx.args
    val trace = a.trace
    val batchSize = math.max(200, (BatchSize * a.scale).toInt)
    val (reps, localDf, peerDf) = ctx.input {
      val reps = Gen.replicas(a.seed, math.max(1000, (ReplicaSize * a.scale).toInt))
      (reps, reps.local.toDF(), reps.peer.toDF())
    }

    val tl = System.nanoTime()
    val local = new TripleStore(spark, ctx.dir("ingest/local"), Serve.Buckets)
    val peer = new TripleStore(spark, ctx.dir("ingest/peer"), Serve.Buckets)
    val nl = local.insert(localDf)
    val np = peer.insert(peerDf)
    val loadS = Stats.s(System.nanoTime() - tl)
    ctx.check(nl == reps.local.size && np == reps.peer.size, s"replica load: $nl, $np")
    val store = new TripleStore(spark, ctx.dir("ingest/store"), Serve.Buckets)
    val gen = new Gen.IngestStream(a.seed, batchSize, LookupsPerBatch)
    val signer = key(a.seed)
    ctx.startMeasuring()

    var filesWritten = 0L
    val bucketFiles = Seq.newBuilder[Double]
    def files: Int = if (trace) filesPerBucket(store.path).sum else 0
    def compact(): Unit = {
      if (trace) bucketFiles ++= filesPerBucket(store.path).map(_.toDouble)
      ctx.action("compact")(store.compact())(_ => true)
    }

    val t0 = System.nanoTime()
    val deadline = t0 + (a.seconds * 1e9).toLong
    var batches = 0
    while (batches < 2 || System.nanoTime() < deadline) {
      val b = gen.batch()
      val df = b.rows.toDF()
      val expected = if (a.corrupt && batches == 0) b.novel + 1 else b.novel
      val before = files
      ctx.action(if (b.signed) "insert_signed" else "insert")(
        if (b.signed) store.insertSigned(df, signer) else store.insert(df))(_ == expected)
      filesWritten += files - before
      b.lookups.foreach { case (s, want) =>
        ctx.timed("raw_lookup", compiles = Some(ArrayOp.leaf(Gen.subjPattern(s))))(
          store.query(ArrayOp.leaf(Gen.subjPattern(s))))(
          df => Serve.rows4(df.collect()))(Serve.sameRows(_, want), _.size)
      }
      batches += 1
      if (batches % CompactEvery == 0) compact()
    }
    compact()
    val n = store.count()
    ctx.check(n == gen.store.size, s"ingest store holds $n triples, expected ${gen.store.size}")
    val diskBytes = store.info().diskBytes.toDouble

    // layer probe (traced runs only): the bloom build and the diff probe
    // that `sync` composes, timed apart, before the syncs change the replicas
    val probe = if (!trace) Nil else {
      val b0 = System.nanoTime()
      val bloom = local.bloom()
      val b1 = System.nanoTime()
      val diff = peer.triplesNotMatchingBloom(bloom).count()
      val b2 = System.nanoTime()
      ctx.check(diff == reps.extraOnPeer, s"bloom diff $diff, expected ${reps.extraOnPeer}")
      Seq("store.bloom_build_ms" -> Stats.ms(b1 - b0), "store.bloom_bytes" -> bloom.bitSize / 8.0,
        "store.diff_probe_ms" -> Stats.ms(b2 - b1),
        "store.diff_rows_per_scanned_row" -> diff.toDouble / reps.peer.size)
    }
    val s1 = ctx.action("sync")(local.sync(peer))(_ == reps.extraOnPeer)
    val s2 = ctx.action("sync_sliced")(peer.syncFromSliced(local, 8))(_ == reps.missingFromPeer)
    ctx.stopMeasuring()
    val total = reps.local.size + reps.extraOnPeer
    ctx.check(local.count() == total && peer.count() == total, "replicas differ after sync")

    val writes = ctx.of("insert", "insert_signed", "compact")
    val writeS = writes.map(s => Stats.s(s.totalNs)).sum
    val novel = gen.store.size.toDouble
    val lat = ctx.of("raw_lookup").map(s => Stats.ms(s.totalNs))
    val syncS = Stats.s(s1.totalNs + s2.totalNs)
    val e2e = Seq(
      "read_p50_ms" -> M(Stats.median(lat), "ms"),
      "read_p95_ms" -> M(Stats.quantile(lat, 0.95), "ms"),
      "throughput_per_s" -> M(novel / writeS, "1/s"))
    val extra = Seq(
      "setup_wall_s" -> M(ctx.sessionStartS + loadS, "s"),
      "ingest_triples_per_s" -> M(novel / writeS, "1/s"),
      "sync_triples_per_s" -> M((reps.extraOnPeer + reps.missingFromPeer) / syncS, "1/s"),
      "stored_bytes_per_triple" -> M(diskBytes / n, "B"),
      "construct_share" -> M(ctx.of("raw_lookup").map(_.constructNs).sum.toDouble /
        ctx.of("raw_lookup").map(_.totalNs).sum, "ratio"),
      "batches" -> M(batches, "count"),
      "read_ops" -> M(lat.size, "count"),
      "session_start_s" -> M(ctx.sessionStartS, "s"),
      "replica_load_s" -> M(loadS, "s"),
      "write_s" -> M(writeS, "s"), "sync_s" -> M(syncS, "s"))
    val bf = bucketFiles.result()
    Outcome(e2e, extra, probe ++ Seq(
      "store.files_written" -> filesWritten.toDouble,
      "store.files_per_bucket" -> Stats.mean(bf)))
  }
}
