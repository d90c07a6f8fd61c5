package graft.store

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.apache.spark.util.sketch.BloomFilter

import graft.expr.PatternCompiler
import graft.functions.{BloomProbeIndexedExpr, GraftFunctions, Murmur3x64, TripleCrypto}
import graft.model.{ArrayOp, Keyspace, Triple}

/** Parquet-backed triple store — the Spark-native replacement for the
  * reference's SQLite shard (reference: triplestore/triplestore.go).
  *
  * Scale design (100 TB / 1000 executors):
  *  - Data lives in parquet partitioned by `bucket =
  *    murmur3_64(subj) mod numBuckets` — the same shard function as the
  *    reference's keyspace ring (network/network.go:283-289), so a
  *    subject-rooted query prunes to one partition directory
  *    (Catalyst partition pruning replaces the reference's peer routing,
  *    core/query.go:78-106).
  *  - Rows are sorted by (subj, pred, obj) within files so parquet
  *    min/max row-group stats replace the reference's idx_subj
  *    (triplestore.go:40-42); predicate pushdown replaces idx_pred.
  *  - Inserts dedup via a left-anti join on (subj,pred,obj) — the
  *    unique-index semantics of triplestore.go:134-148 — shuffled on the
  *    identity key, never collected to the driver.
  *  - The parquet relation (file index plus the fixed [[StoreSchema]]) is
  *    resolved once and reused by every read — the reference opens its
  *    SQLite shard once (triplestore.go:35-44) and runs each query on the
  *    open handle. Resolving lists the store's directories (a Spark job
  *    past 32 bucket directories); reusing the relation means a read
  *    builds its DataFrame with no listing and no job, and a rooted
  *    query's `bucket IN (…)` still prunes in the resolved file index.
  *    The relation is shared by every instance on the same qualified path
  *    in the process, so two instances see each other's writes.
  *
  * Bloom reconciliation (reference: triplestore/bloom.go:13-73, FP 1e-9
  * at triplestore.go:18-22) has one builder, one probe and one diff, in
  * the companion ([[TripleStore.buildBlooms]], [[TripleStore.bloomProbe]],
  * [[TripleStore.bloomDiff]]), behind `bloom`, `triples(Not)MatchingBloom`,
  * `syncFromSliced`, `sync` and the registry's bloom queries. The builder
  * fills K slice filters in one scan of the local side; the probe tests
  * each row of the other side against its slice's filter in one scan.
  * The whole ring is the K = 1 case — slice index the constant 0, cap the
  * exact row count from the parquet footers — and K ≥ 2 slices are equal
  * arcs of the murmur3(subj) ring, each capped at its ring fraction
  * ×1.25. A key's membership only needs its own slice's filter, so every
  * K ships the same diff up to bloom false positives (~1e-9 per triple).
  * `sync` takes the fewest slices that keep every filter under
  * [[TripleStore.SyncBroadcastCeiling]], the broadcast unit the
  * reference's keyspace-sharded peers reconcile by.
  *
  * Relation-reuse contract, like Spark's `REFRESH TABLE`:
  *  - every write through a store (`insert` and everything built on it:
  *    `insertSigned`, `syncFromSliced`, `sync`, streaming
  *    ingest) drops the relation once its files are written; `compact`
  *    drops it before and after its rename swap. The next read resolves
  *    the files anew.
  *  - a writer outside this process, or one writing to the path without
  *    going through a store, must be followed by [[refresh]]; until then
  *    reads see the files as of the last resolve.
  *  - a DataFrame keeps the files it was built on. One built before an
  *    insert reads the store without the insert's rows; one built before
  *    a `compact` still points at the pre-compaction files, which the
  *    swap removes, so executing it afterwards fails.
  *  - `count()` follows the relation: it sums the parquet footers of the
  *    relation's files once, and the count is dropped with the relation,
  *    by the same writes, `compact` and [[refresh]]. Bloom sizing reads
  *    the same count.
  */
final class TripleStore(
    val spark: SparkSession,
    val path: String,
    val numBuckets: Int = 64
) {
  import TripleStore._
  GraftFunctions.register(spark)

  private def exists: Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }

  /** Cache key of this store's relation: the fully qualified path, so
    * spellings of one directory share an entry.
    */
  private val qualifiedPath: String = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
  }

  /** All triples, logical schema only (bucket column dropped). */
  def all: DataFrame = raw.select(Triple.columns.map(col): _*)

  /** Raw read including the `bucket` partition column: the resolved
    * relation, shared until the next write or [[refresh]].
    */
  def raw: DataFrame = relation.df

  private def relation: Resolved =
    relations(spark, qualifiedPath) {
      if (exists) spark.read.schema(StoreSchema).parquet(path)
      else emptyTriples(spark).withColumn("bucket", bucketCol)
    }

  /** Drop the resolved relation, so the next read lists the store's files
    * again — Spark's `REFRESH TABLE` for this path. Call it after files
    * under the path changed without going through a store in this
    * process (another process, or a plain `df.write`). Every store on the
    * path, in every session, sees the refreshed files.
    */
  def refresh(): Unit = relations.drop(qualifiedPath)

  /** Insert with (subj,pred,obj) dedup; returns the number actually
    * inserted (reference: triplestore/triplestore.go:134-148 — unique
    * index violations silently dropped, count of survivors returned).
    *
    * At 100 TB the count forces a pass over the batch (not the store —
    * the anti-join build side is the store, probe is the batch); pass
    * `countInserted = false` to skip the extra action.
    */
  def insert(batch: DataFrame, countInserted: Boolean = true): Long = {
    val cleaned = conform(batch)
      .dropDuplicates(Triple.identityColumns)
    val novel = cleaned.join(
      all.select(Triple.identityColumns.map(col): _*),
      Triple.identityColumns, "left_anti")
    val toWrite = novel.withColumn("bucket", bucketCol)
    if (countInserted) {
      // Cache the survivors: the anti-join must not be recomputed after
      // the write (the store would then already contain the rows).
      toWrite.persist()
      try {
        val n = toWrite.count()
        writeBuckets(toWrite)
        n
      } finally toWrite.unpersist()
    } else {
      writeBuckets(toWrite)
      -1L
    }
  }

  // One shuffle: co-partition by bucket so each task writes one
  // directory; sort within partitions for row-group stat pruning. The
  // relation is dropped even when the write fails part-way, since some
  // files may have landed.
  private def writeBuckets(toWrite: DataFrame): Unit =
    try toWrite
      .repartition(numBuckets, col("bucket"))
      .sortWithinPartitions("subj", "pred", "obj")
      .write.mode("append").partitionBy("bucket").parquet(path)
    finally refresh()

  /** Pattern/ArrayOp query with optional limit (reference:
    * triplestore/triplestore.go:49-77). `limit <= 0` = unlimited.
    * Divergence (documented): the reference applies the limit per local
    * shard and drops it on remote forwards (core/query.go:117-124), so
    * its global result can over-return; ours is globally exact.
    */
  def query(op: ArrayOp, limit: Int = -1): DataFrame = {
    val pred = PatternCompiler.compile(op)
    val base = PatternCompiler.prunedBuckets(op, numBuckets) match {
      case Some(buckets) =>
        // Rooted query: prune to the owning buckets (replaces the
        // reference's keyspace peer routing, core/query.go:78-106).
        raw
          .filter(col("bucket").isin(buckets.toSeq: _*))
          .select(Triple.columns.map(col): _*)
      case None => all
    }
    val filtered = base.filter(pred)
    if (limit > 0) filtered.limit(limit) else filtered
  }

  /** One traversal hop: the triples matching `step` whose subject is an
    * object of `prev` (reference: core/query.go:14-33), routed by subject
    * hash like the reference's per-peer sub-queries (core/query.go:38-106).
    * The frontier carries its subjects' bucket, computed by the store's
    * one bucket function, and the hop semi-joins `raw` on
    * `(bucket, subj)`: while the frontier is small enough to broadcast,
    * Spark's dynamic partition pruning reuses that broadcast to read only
    * the buckets owning a frontier subject; a larger frontier is a
    * shuffled semi-join over every bucket. The frontier never reaches the
    * driver, and it is not deduplicated — a semi-join ignores duplicates.
    * The bucket joins as a one-field struct: Spark generates the pruning
    * predicate over an INT key as a `switch` on the literal bucket ids, a
    * new class for every set of frontier buckets, and over a struct as
    * one lookup in a referenced set, one class for every frontier.
    */
  def traverseStep(prev: DataFrame, step: ArrayOp): DataFrame = {
    val frontier = prev.select(col("obj").as("subj"))
      .select(col("subj"), struct(bucketCol.as("bucket")).as("shard"))
    raw.withColumn("shard", struct(col("bucket")))
      .join(frontier, Seq("shard", "subj"), "left_semi")
      .select(Triple.columns.map(col): _*)
      .filter(PatternCompiler.compile(step))
  }

  def query(op: ArrayOp, limit: Int, keyspace: Option[Keyspace]): DataFrame = {
    // keyspace guard BEFORE the limit — limiting first would sample rows
    // and then drop the out-of-range ones, under-returning
    val unlimited = query(op, -1)
    val guarded = keyspace match {
      case Some(ks) =>
        unlimited.filter(keyspaceIncludes(ks, GraftFunctions.murmur64(col("subj"))))
      case None => unlimited
    }
    if (limit > 0) guarded.limit(limit) else guarded
  }

  /** Number of stored triples: the row counts in the parquet footers of
    * the relation's files, read once per resolved relation and dropped
    * with it — no Spark job, no column data read.
    */
  def count(): Long = relation.rows

  /** Store info (reference: triplestore/triplestore.go:150-170 — COUNT(*),
    * file size, and the free-disk syscall at :158-166; here the
    * filesystem-portable `FileSystem.getStatus`, which is statvfs on the
    * local FS and capacity-remaining on HDFS-likes).
    */
  def info(): StoreInfo = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = if (exists) fs.getContentSummary(p).getLength else 0L
    val free = (if (exists) fs.getStatus(p) else fs.getStatus()).getRemaining
    StoreInfo(count(), bytes, free)
  }

  /** Bloom filter over canonical triple keys, optionally restricted to a
    * keyspace slice by `murmur3_64(subj)` (reference:
    * triplestore/bloom.go:13-37; FP 1e-9 constant triplestore.go:18-22):
    * the one-slice case of [[TripleStore.buildBlooms]].
    */
  def bloom(keyspace: Option[Keyspace] = None, fpp: Double = ReferenceFpp): BloomFilter = {
    val (rows, fraction) = keyspace match {
      case Some(ks) =>
        (all.filter(keyspaceIncludes(ks, GraftFunctions.murmur64(col("subj")))), ringFraction(ks))
      case None => (all, 1.0)
    }
    buildBlooms(rows.select(GraftFunctions.canonicalKey().as("k"), lit(0).as("s")),
      Seq(sliceCap(count(), fraction)), fpp).head
  }

  /** Triples whose canonical key tests positive in `filter` — the
    * replication-diff probe (reference: triplestore/bloom.go:39-73).
    */
  def triplesMatchingBloom(filter: BloomFilter): DataFrame =
    all.filter(bloomProbe(spark, GraftFunctions.canonicalKey(), lit(0), Array(filter)))

  /** Replication diff: triples whose canonical key does NOT test
    * positive in the peer's filter — what the peer is missing. The
    * reference declares the positive probe but never ships the diff
    * (replication is a TODO there); this is the missing half.
    */
  def triplesNotMatchingBloom(filter: BloomFilter): DataFrame =
    all.filter(!bloomProbe(spark, GraftFunctions.canonicalKey(), lit(0), Array(filter)))

  /** One replication round INTO this store from `peer`, in the fewest
    * ring slices that keep every slice's filter under
    * [[TripleStore.SyncBroadcastCeiling]] ([[TripleStore.syncSliceCount]]
    * off the parquet footers: one slice up to ~5·10⁷ triples, 6 at 2·10⁸).
    * Returns the number actually inserted.
    */
  def sync(peer: TripleStore): Long = syncFromSliced(peer, syncSliceCount(count()))

  /** One replication round INTO this store from `peer` in `k` ring
    * slices ([[TripleStore.ringSlices]]; `k = 1` is the whole ring): the
    * peer's triples that miss this store's filter for their slice, landed
    * through the dedup insert. Returns the number actually inserted.
    */
  def syncFromSliced(peer: TripleStore, k: Int = 8): Long =
    insert(bloomDiff(all, peer.all, GraftFunctions.canonicalKey(),
      sliceIdCol(ringSlices(k), GraftFunctions.murmur64(col("subj"))),
      ringCaps(count(), k)))

  /** Sign + stamp + insert pipeline (reference: core/http.go:62-92):
    * sets `author`, `sig` (ECDSA over the SHA-1 fingerprint), one
    * `created` timestamp for the whole batch (core/http.go:64).
    */
  def insertSigned(batch: DataFrame, key: TripleCrypto.KeyPair,
      now: Long = System.currentTimeMillis() / 1000): Long = {
    val bcastKey = spark.sparkContext.broadcast(key)
    val author = key.authorId
    val signUdf = udf { (subj: String, pred: String, obj: String, lang: String) =>
      TripleCrypto.signHex(subj, pred, obj, lang, bcastKey.value)
    }
    val signed = conform(batch)
      .withColumn("author", lit(author))
      .withColumn("sig", signUdf(col("subj"), col("pred"), col("obj"), col("lang")))
      .withColumn("created", lit(now))
    insert(signed)
  }

  /** Compact the store: rewrite every bucket's accumulated small append
    * files into one sorted file per bucket. Operationally essential
    * under continuous ingest (each streaming micro-batch appends a file
    * per bucket; scan cost degrades with file count). Uses dynamic
    * partition overwrite so untouched buckets are left as-is, and
    * restores the sortWithinPartitions clustering that row-group
    * pruning depends on.
    */
  def compact(): Unit = {
    if (!exists) return
    // Two-phase: write the compacted copy to a sibling temp dir, then
    // swap via rename. Never overwrite the directory being read —
    // a cache-evicted partition would recompute from clobbered data.
    val p = new org.apache.hadoop.fs.Path(path)
    val t = new org.apache.hadoop.fs.Path(path + ".compacting")
    val old = new org.apache.hadoop.fs.Path(path + ".precompact")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(t, true)
    fs.delete(old, true)
    raw
      .repartition(numBuckets, col("bucket"))
      .sortWithinPartitions("subj", "pred", "obj")
      // bound row groups at ~8 MB (default is 128 MB): parquet splits
      // only at row-group boundaries, so a one-group bucket file caps
      // scan parallelism at one task per bucket — harmless while
      // buckets ≥ cores, a 2×+ readback tax the moment a deployment
      // runs fewer, fatter buckets. 8 MB is the zero-shuffle law shared
      // with the corpus writer (tools/make_sf.py): Spark plans one
      // split per ~4 MB, and Tables.load's backstop fires when
      // rowGroups·2 < that target, so ≤8 MB groups always satisfy it —
      // write splittable files at the SOURCE; the loader backstop is
      // for inputs we didn't write (round-11 verdict #4).
      .write.mode("overwrite")
      .option("parquet.block.size", 8L << 20)
      .partitionBy("bucket").parquet(t.toString)
    // swap via two renames, never a delete-then-rename window: a crash
    // between them leaves the data at .precompact, recoverable — not gone.
    // The relation is dropped on both sides of the swap: a read resolved
    // mid-swap may have listed a missing or half-moved store.
    refresh()
    try {
      fs.rename(p, old)
      if (!fs.rename(t, p)) {
        fs.rename(old, p) // roll back
        throw new java.io.IOException(s"compact: rename $t -> $p failed; rolled back")
      }
    } finally refresh()
    fs.delete(old, true)
  }

  /** Stream the whole store in driver-side batches of `size` (reference:
    * triplestore/triplestore.go:173-195, `EachTripleBatch`). The
    * reference pages with OFFSET/LIMIT (O(n²) in SQLite); here
    * `toLocalIterator` pulls one partition at a time — the driver never
    * holds more than a partition plus one batch.
    */
  def eachTripleBatch(size: Int): Iterator[Seq[Triple]] = {
    import spark.implicits._
    all.as[Triple].toLocalIterator().asScala.grouped(size)
  }

  private def bucketCol: Column =
    pmod(GraftFunctions.murmur64(col("subj")), lit(numBuckets.toLong)).cast("int")
}

object TripleStore {
  /** Reference's bloom FP constant (triplestore/triplestore.go:18-22). */
  val ReferenceFpp: Double = 1e-9

  /** Minimum expected-items for bloom sizing (degeneracy guard). */
  val MinBloomItems: Long = 10000L

  /** Largest single bloom broadcast [[TripleStore.sync]] will schedule
    * before slicing the ring — a wire/broadcast unit, not a heap bound
    * (executors hold one readonly copy; torrent broadcast distributes
    * it). 256 MiB holds one filter of ~5·10⁷ keys at [[ReferenceFpp]].
    */
  val SyncBroadcastCeiling: Long = 256L << 20

  /** The store's on-disk schema: the [[Triple]] columns, then the `bucket`
    * partition column — what parquet schema inference yields for a
    * written store (file-source columns are always nullable). Reading
    * with it skips inference, which reads parquet footers in a Spark job.
    */
  private[graft] val StoreSchema: StructType = StructType(
    Encoders.product[Triple].schema.fields.map(_.copy(nullable = true)) :+
      StructField("bucket", IntegerType))

  /** A resolved store relation and its row count. The count is the sum
    * of the record counts in the footers of the files the relation
    * listed, read on the driver on first use — the same files a scan of
    * `df` reads (Spark's listing skips `_temporary/…` and every other
    * name starting with `_` or `.`), so it equals `df.count()`.
    */
  private final class Resolved(val df: DataFrame) {
    lazy val rows: Long = {
      val conf = df.sparkSession.sparkContext.hadoopConfiguration
      df.inputFiles.iterator.map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(new java.net.URI(f)), conf))
        try r.getRecordCount finally r.close()
      }.sum
    }
  }

  /** Resolved store relations, one per (session, qualified path), shared
    * by every store in the process. A hit is a map lookup; a miss
    * resolves outside the lock, so a slow listing blocks no other read.
    */
  private object relations {
    private val byKey = scala.collection.mutable.HashMap.empty[(SparkSession, String), Resolved]
    // bumped by every drop: a resolve that overlapped a drop may have
    // listed a half-written store, so it serves its caller but is not kept
    private var generation = 0L

    def apply(spark: SparkSession, path: String)(resolve: => DataFrame): Resolved = {
      val key = (spark, path)
      val (hit, seen) = synchronized((byKey.get(key), generation))
      hit.getOrElse {
        val resolved = new Resolved(resolve)
        synchronized {
          if (generation != seen) resolved
          else {
            // a process that stops and starts sessions must not keep
            // the dead sessions' relations alive
            byKey.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
            byKey.getOrElseUpdate(key, resolved)
          }
        }
      }
    }

    def drop(path: String): Unit = synchronized {
      generation += 1
      byKey.filterInPlace((k, _) => k._2 != path)
    }
  }

  /** Predicted bloom size for `n` keys at `fpp` — the optimal-bits
    * formula (`−n·ln fpp / ln²2`, what `BloomFilter.create(n, fpp)`
    * allocates), in bytes. Driver-side arithmetic only.
    */
  private[graft] def predictedBloomBytes(n: Long, fpp: Double): Long =
    math.ceil(-n.toDouble * math.log(fpp) / (math.log(2) * math.log(2)) / 8.0).toLong

  /** The one bloom builder: one filter per slice of `keyed` (columns `k`,
    * the string key, and `s`, its slice index in `caps`; a single filter
    * is the one-slice case, `s` the constant 0; a null `s` is skipped).
    * Each task builds every slice's filter at its cap and counts its keys
    * as it inserts them, and a treeReduce merges the partial filters
    * pairwise on executors, so one scan covers all K slices. A slice
    * whose count exceeds its cap (a bound miss, which only extreme
    * subject-hash skew causes for [[sliceCap]]'s headroom) is rebuilt at
    * its exact count, with all such slices together in one second pass.
    * Null keys are not inserted.
    */
  private[graft] def buildBlooms(keyed: DataFrame, caps: Seq[Long],
      fpp: Double = ReferenceFpp): Array[BloomFilter] = {
    val keys = keyed.select(col("k").cast("string"), col("s").cast("int")).na.drop()
      .as[(String, Int)](Encoders.tuple(Encoders.STRING, Encoders.scalaInt)).rdd
    // each task creates its own filters from the caps, so a task ships
    // only `sizes`, never K full-size empty filters; an empty store's
    // relation may have no partition at all, which treeReduce rejects
    def empty(sizes: Array[Long]) =
      (new Array[Long](sizes.length), sizes.map(BloomFilter.create(_, fpp)))
    def fill(rows: RDD[(String, Int)], sizes: Array[Long]): (Array[Long], Array[BloomFilter]) =
      if (rows.getNumPartitions == 0) empty(sizes)
      else rows.mapPartitions { it =>
        val (n, f) = empty(sizes)
        it.foreach { case (key, s) => f(s).putString(key); n(s) += 1 }
        Iterator.single((n, f))
      }.treeReduce { case ((na, a), (nb, b)) =>
        var i = 0
        while (i < a.length) { a(i).mergeInPlace(b(i)); na(i) += nb(i); i += 1 }
        (na, a) }
    val (counts, filters) = fill(keys, caps.toArray)
    val over = caps.indices.filter(i => counts(i) > caps(i)).toArray
    if (over.nonEmpty) {
      val at = over.zipWithIndex.toMap // slice -> its index in the re-pass
      val (_, exact) = fill(keys.flatMap { case (key, s) => at.get(s).map(key -> _) },
        over.map(counts))
      over.indices.foreach(j => filters(over(j)) = exact(j))
    }
    filters
  }

  /** The one bloom probe: `key` tests positive in the filter of its
    * slice, `filters(slice)` (a single filter: one element, slice
    * `lit(0)`). A codegen'd Catalyst expression over the broadcast
    * filters — only the broadcast handle is embedded in the plan.
    */
  private[graft] def bloomProbe(spark: SparkSession, key: Column, slice: Column,
      filters: Array[BloomFilter]): Column =
    ColumnBridge.column(BloomProbeIndexedExpr(
      ColumnBridge.expression(key.cast("string")),
      ColumnBridge.expression(slice.cast("int")),
      spark.sparkContext.broadcast(filters)))

  /** The one bloom diff: the rows of `remote` whose `key` misses the
    * filter of its `slice` built over `local`'s keys — one scan of each
    * side whatever the slice count. `key` and `slice` must resolve on
    * both frames.
    */
  private[graft] def bloomDiff(local: DataFrame, remote: DataFrame, key: Column,
      slice: Column, caps: Seq[Long]): DataFrame = {
    val filters = buildBlooms(local.select(key.as("k"), slice.as("s")), caps)
    remote.filter(!bloomProbe(remote.sparkSession, key, slice, filters))
  }

  /** Filter capacity of a slice holding `fraction` of `rows` keys: exact
    * for the whole ring, ×1.25 headroom for an arc (murmur3 subject
    * hashes are uniform on the ring, so an arc holds about its fraction
    * of the keys). Floored at [[MinBloomItems]], the degeneracy guard: a
    * few-hundred-bit filter collapses — Spark's double-hashing probes
    * (h1 + i·h2 mod numBits) hit one bit whenever h2 ≡ 0 mod numBits,
    * likely at tiny numBits — while 10k items cost ~53 KB at 1e-9.
    */
  private[graft] def sliceCap(rows: Long, fraction: Double): Long =
    math.max(MinBloomItems,
      if (fraction >= 1.0) rows else math.ceil(rows * fraction * 1.25).toLong)

  /** Fraction of the uint64 ring `ks` covers (1 for the maxed ring). */
  private[graft] def ringFraction(ks: Keyspace): Double =
    if (ks.maxed) 1.0
    else ((ks.mag >>> 1).toDouble * 2.0 + (ks.mag & 1L).toDouble) / math.pow(2.0, 64)

  /** `k` equal arcs tiling the whole uint64 ring; `k = 1` is the maxed
    * ring itself. [[Keyspace.slices]] of the maxed ring leaves out its
    * excluded position 2⁶⁴−1; ending the last arc at 0 takes it back in,
    * so every subject hash falls in exactly one arc.
    */
  private[graft] def ringSlices(k: Int): Seq[Keyspace] = {
    val arcs = Keyspace.maxed().slices(k)
    if (k == 1) arcs else arcs.init :+ arcs.last.copy(end = 0L)
  }

  /** Filter caps of [[ringSlices]]`(k)` over a store of `rows` triples. */
  private[graft] def ringCaps(rows: Long, k: Int): Seq[Long] =
    ringSlices(k).map(ks => sliceCap(rows, ringFraction(ks)))

  /** The slice count [[TripleStore.sync]] uses for a store of `rows`
    * triples: the fewest ring slices whose every filter, headroom
    * included, fits [[SyncBroadcastCeiling]].
    */
  private[graft] def syncSliceCount(rows: Long): Int =
    Iterator.from(1).find(k => ringCaps(rows, k)
      .forall(predictedBloomBytes(_, ReferenceFpp) <= SyncBroadcastCeiling)).get

  final case class StoreInfo(triples: Long, diskBytes: Long, freeDiskBytes: Long)

  /** Conform an arbitrary-schema batch to the triple schema: missing
    * provenance columns default to ""/0 (proto3 zero values).
    */
  def conform(df: DataFrame): DataFrame = {
    val present = df.columns.toSet
    val withDefaults = Triple.columns.foldLeft(df) { (acc, c) =>
      if (present.contains(c)) acc
      else if (c == "created") acc.withColumn(c, lit(0L))
      else acc.withColumn(c, lit(""))
    }
    withDefaults.select(
      col("subj").cast("string"),
      col("pred").cast("string"),
      col("obj").cast("string"),
      // provenance fields: null coalesces to the proto3 zero value
      coalesce(col("lang").cast("string"), lit("")).as("lang"),
      coalesce(col("author").cast("string"), lit("")).as("author"),
      coalesce(col("sig").cast("string"), lit("")).as("sig"),
      coalesce(col("created").cast("long"), lit(0L)).as("created"))
      // A triple without an identity is not a triple — null subj/pred/obj
      // (e.g. from malformed JSON) must never reach the store.
      .filter(col("subj").isNotNull && col("pred").isNotNull && col("obj").isNotNull)
  }

  def emptyTriples(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[Triple].toDF()
  }

  /** Index of the slice (in `slices` order) a hash belongs to, null for
    * a hash outside every slice — one codegen'd expression that
    * evaluates the hash once ([[graft.functions.RingSliceExpr]]). A null
    * slice drops the row from both sides of [[bloomDiff]]: it is neither
    * built nor probed. [[ringSlices]] tile the ring, so over them every
    * hash has a slice.
    */
  private[graft] def sliceIdCol(slices: Seq[Keyspace], hash: Column): Column =
    ColumnBridge.column(graft.functions.RingSliceExpr(
      ColumnBridge.expression(hash.cast("long")), slices.map(_.start), slices.map(_.end)))

  /** Keyspace membership as a Column predicate over a hash column —
    * unsigned ring-interval test (reference: protocol/keyspace.go:4-12).
    * Expressed with XOR(min-long) to map unsigned order onto signed order
    * so the whole predicate stays codegen-able (no UDF).
    */
  def keyspaceIncludes(ks: Keyspace, hash: Column): Column = {
    val Min = Long.MinValue
    val a = hash.bitwiseXOR(Min)
    val s = lit(ks.start ^ Min)
    val e = lit(ks.end ^ Min)
    (s <= a && a < e) || (a < e && e < s) || (e < s && s <= a)
  }

  /** Driver-side shard-bucket of a subject. Must match `bucketCol`'s
    * `pmod` (signed floor-mod) semantics exactly — NOT unsigned modulo,
    * which differs for non-power-of-2 bucket counts.
    */
  def bucketOf(subj: String, numBuckets: Int): Int =
    math.floorMod(Murmur3x64.hash64(subj), numBuckets.toLong).toInt
}
