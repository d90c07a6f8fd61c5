package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.lit

import graft.engine.Engine
import graft.model.{ArrayOp, Triple, TriplePattern}
import graft.store.TripleStore

/** Store semantics over the reference's canonical fixtures
  * (triplestore/triplestore_test.go:15-36 Obama/Hume set; expected
  * results pinned by triplestore_test.go:64-141, 281-379).
  */
class TripleStoreSpec extends SparkSpecBase {
  import ArrayOp.{And, Not, Or}

  // The canonical 4-triple fixture (FIXTURES.md §A.1).
  val fixture: Seq[Triple] = Seq(
    Triple("/m/02mjmr", "/type/object/name", "Barack Obama"),
    Triple("/m/02mjmr", "/type/object/type", "/people/person"),
    Triple("/m/0hume", "/type/object/name", "Hume"),
    Triple("/m/0hume", "/type/object/type", "/organization/team")
  )

  def freshStore(buckets: Int = 8): TripleStore =
    new TripleStore(spark, tmpDir("graft-store") + "/triples", buckets)

  def loaded(): TripleStore = {
    import spark.implicits._
    val st = freshStore()
    st.insert(fixture.toDF())
    st
  }

  def spo(df: org.apache.spark.sql.DataFrame): Set[(String, String, String)] =
    df.select("subj", "pred", "obj").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  test("info reports triple count, on-disk bytes, and free disk (reference Size())") {
    val st = loaded()
    val i = st.info()
    assert(i.triples == 4)
    assert(i.diskBytes > 0, "stored parquet must have nonzero size")
    // reference triplestore.go:158-166 surfaces the statvfs free-bytes
    // next to count and file size; must be a live positive number here
    assert(i.freeDiskBytes > 0, "free disk bytes missing from info")
    // an empty (never-written) store still answers
    val empty = freshStore()
    val ie = empty.info()
    assert(ie.triples == 0 && ie.diskBytes == 0 && ie.freeDiskBytes > 0)
  }

  test("insert returns count, dedup on (subj,pred,obj)") {
    import spark.implicits._
    val st = freshStore()
    assert(st.insert(fixture.toDF()) == 4)
    // re-insert: silently dropped (reference TestTripleDuplicates,
    // triplestore_test.go:38-62); lang/author not part of identity
    val again = fixture.map(_.copy(author = "someone-else"))
    assert(st.insert(again.toDF()) == 0)
    assert(st.count() == 4)
  }

  test("query by subject") {
    val st = loaded()
    val got = spo(st.query(ArrayOp.of(TriplePattern(subj = Some("/m/02mjmr")))))
    assert(got == Set(
      ("/m/02mjmr", "/type/object/name", "Barack Obama"),
      ("/m/02mjmr", "/type/object/type", "/people/person")))
  }

  test("query by pred, and pred+obj") {
    val st = loaded()
    val byPred = spo(st.query(ArrayOp.of(TriplePattern(pred = Some("/type/object/name")))))
    assert(byPred.map(_._3) == Set("Barack Obama", "Hume"))
    val byBoth = spo(st.query(ArrayOp.of(
      TriplePattern(pred = Some("/type/object/type"), obj = Some("/people/person")))))
    assert(byBoth == Set(("/m/02mjmr", "/type/object/type", "/people/person")))
  }

  test("empty pattern matches all; limit caps") {
    val st = loaded()
    assert(st.query(ArrayOp.of(TriplePattern())).count() == 4)
    assert(st.query(ArrayOp.of(TriplePattern()), limit = 2).count() == 2)
  }

  test("ArrayOp: AND of disjoint subjects is empty (triplestore_test.go:296-318)") {
    val st = loaded()
    val op = And(Seq(
      TriplePattern(subj = Some("/m/02mjmr")),
      TriplePattern(subj = Some("/m/0hume"))))
    assert(st.query(op).count() == 0)
  }

  test("ArrayOp: OR of two subjects returns all four (triplestore_test.go:319-331)") {
    val st = loaded()
    val op = Or(Seq(
      TriplePattern(subj = Some("/m/02mjmr")),
      TriplePattern(subj = Some("/m/0hume"))))
    assert(st.query(op).count() == 4)
  }

  test("ArrayOp: NOT is row-level negation (triplestore_test.go:346-367)") {
    val st = loaded()
    val op = Not(Seq(TriplePattern(subj = Some("/m/02mjmr"))))
    val got = spo(st.query(op))
    assert(got.map(_._1) == Set("/m/0hume"))
  }

  test("ArrayOp: nested AND(OR(subjects), NOT(pred))") {
    val st = loaded()
    val op = And(
      triples = Nil,
      args = Seq(
        Or(Seq(
          TriplePattern(subj = Some("/m/02mjmr")),
          TriplePattern(subj = Some("/m/0hume")))),
        Not(Seq(TriplePattern(pred = Some("/type/object/type"))))))
    assert(spo(st.query(op)).map(_._3) == Set("Barack Obama", "Hume"))
  }

  test("traversal: step N+1 rooted at step N's objects (core/query.go:14-33)") {
    import spark.implicits._
    val st = freshStore()
    // chain: a --knows--> b --knows--> c ; b --name--> "B"
    st.insert(Seq(
      Triple("a", "knows", "b"),
      Triple("b", "knows", "c"),
      Triple("b", "name", "B"),
      Triple("c", "name", "C")).toDF())
    val eng = new Engine(st)
    val out = eng.executeQuery(Seq(
      ArrayOp.of(TriplePattern(subj = Some("a"), pred = Some("knows"))),
      ArrayOp.of(TriplePattern(pred = Some("name")))))
    assert(spo(out) == Set(("b", "name", "B")))
    // 3-step: a -> b -> c -> name
    val out2 = eng.executeQuery(Seq(
      ArrayOp.of(TriplePattern(subj = Some("a"))),
      ArrayOp.of(TriplePattern(pred = Some("knows"))),
      ArrayOp.of(TriplePattern(pred = Some("name")))))
    assert(spo(out2) == Set(("c", "name", "C")))
  }

  test("JSON query parse + execute (query/query.go:16-22 wire format)") {
    val st = loaded()
    val eng = new Engine(st)
    assert(eng.queryJson("""[{"subj":"/m/02mjmr"}]""").count() == 2)
    assert(eng.queryJson("""[{}]""").count() == 4)
    assert(eng.queryJson(
      """[{"subj":"/m/02mjmr"},{"subj":"/m/0hume"}]""").count() == 4)
    intercept[IllegalArgumentException] {
      eng.parseQuery("""[{"nope":"x"}]""")
    }
  }

  test("signed insert stamps author/sig/created; sig verifies") {
    import spark.implicits._
    val st = freshStore()
    val key = graft.functions.TripleCrypto.generateKeyPair()
    val n = st.insertSigned(fixture.toDF(), key, now = 1234567890L)
    assert(n == 4)
    val rows = st.all.collect()
    assert(rows.forall(_.getAs[Long]("created") == 1234567890L))
    assert(rows.forall(_.getAs[String]("author") == key.authorId))
    rows.foreach { r =>
      val fp = graft.functions.GraftFunctions.fingerprintScala(
        r.getAs[String]("subj"), r.getAs[String]("pred"),
        r.getAs[String]("obj"), r.getAs[String]("lang"))
      val sig = r.getAs[String]("sig").grouped(2)
        .map(Integer.parseInt(_, 16).toByte).toArray
      assert(graft.functions.TripleCrypto.verify(fp, sig, key))
    }
  }

  test("bloom build + probe round-trip (triplestore/bloom_test.go:14-97)") {
    import spark.implicits._
    val st = freshStore()
    val big = (0 until 5000).map(i =>
      Triple("/m/0test", "/type/object/name", s"Bloom $i")) ++ fixture
    st.insert(big.toDF())
    val bf = st.bloom()
    // every stored triple must test positive
    assert(st.triplesMatchingBloom(bf).count() == 5004)
    // a filter over an empty keyspace matches nothing
    val empty = st.bloom(Some(graft.model.Keyspace(1L, 1L)))
    assert(st.triplesMatchingBloom(empty).count() == 0)
  }

  test("bloom-diff sync converges two stores in one round") {
    import spark.implicits._
    val a = freshStore()
    val b = freshStore()
    val shared = (0 until 200).map(i => Triple(s"s:$i", "p", s"o$i"))
    val extra = (0 until 50).map(i => Triple(s"extra:$i", "p", s"e$i"))
    a.insert((shared ++ extra).toDF())
    b.insert(shared.toDF())
    // the diff is exactly A's surplus (bloom fpp 1e-9 over 250 keys —
    // a false positive here would be a real bug, not bad luck)
    assert(a.triplesNotMatchingBloom(b.bloom()).count() == 50)
    assert(b.syncFromSliced(a, k = 1) == 50)
    assert(b.count() == a.count())
    // second round is a no-op
    assert(b.syncFromSliced(a, k = 1) == 0)
  }

  test("sliced bloom sync ships exactly the full-ring diff (the past-broadcast-ceiling form)") {
    import spark.implicits._
    val a = freshStore()
    val shared = (0 until 200).map(i => Triple(s"s:$i", "p", s"o$i"))
    val extra = (0 until 50).map(i => Triple(s"extra:$i", "p", s"e$i"))
    a.insert((shared ++ extra).toDF())
    // the same exact set-difference oracle as the one-slice test: the
    // slice filters must ship A's surplus exactly — no triple lost to a
    // slice boundary (murmur hashes land all over the ring, so 8
    // slices exercise many boundaries; odd k splits the ring into arcs
    // that are not halves). Slice DISJOINTNESS is pinned structurally
    // in KeyspaceSpec ("slices: disjoint…") and below for ringSlices;
    // the dedup insert would absorb a double-ship, so this gate is about
    // completeness and convergence
    for (k <- Seq(1, 2, 3, 5, 8)) {
      val b = freshStore()
      b.insert(shared.toDF())
      assert(b.syncFromSliced(a, k) == 50, s"k = $k")
      assert(b.count() == a.count(), s"k = $k")
      assert(b.syncFromSliced(a, k) == 0, s"k = $k")
    }
  }

  test("sync schedules full-ring vs sliced by predicted filter bytes") {
    // the size model reproduces the reference's own wire constant:
    // ~5.39 MB per 10⁶ keys at 1e-9 (triplestore/triplestore.go:18-22
    // says ~5.14 — same formula, their doc rounds the per-key bits)
    val mb = TripleStore.predictedBloomBytes(1000000L, 1e-9).toDouble / (1L << 20)
    assert(mb > 5.0 && mb < 5.5)
    assert(TripleStore.predictedBloomBytes(47000000L, 1e-9) <=
      TripleStore.SyncBroadcastCeiling) // ~4.7e7 triples still fit
    assert(TripleStore.syncSliceCount(47000000L) == 1)
    assert(TripleStore.predictedBloomBytes(1000000000L, 1e-9) /
      TripleStore.SyncBroadcastCeiling >= 19) // 10⁹ → ~20+ slices
    assert(TripleStore.syncSliceCount(1000000000L) >= 20)
    assert(TripleStore.syncSliceCount(250L) == 1)
    // every slice count ships the identical diff on the same fixture:
    // the scheduled one (k = 1 here) and an explicit k = 4 — same 50
    // rows, same convergence
    import spark.implicits._
    val a = freshStore()
    val b = freshStore()
    val c = freshStore()
    val shared = (0 until 200).map(i => Triple(s"s:$i", "p", s"o$i"))
    val extra = (0 until 50).map(i => Triple(s"extra:$i", "p", s"e$i"))
    a.insert((shared ++ extra).toDF())
    b.insert(shared.toDF())
    c.insert(shared.toDF())
    assert(b.sync(a) == 50)
    assert(b.count() == a.count())
    assert(c.syncFromSliced(a, k = 4) == 50)
    assert(c.count() == a.count())
    assert(c.syncFromSliced(a, k = 4) == 0)
  }

  test("sync schedules exactly k slices, each filter under the broadcast ceiling") {
    val ceiling = TripleStore.SyncBroadcastCeiling
    // rows whose whole-ring filter is `x` ceilings: k = 1 needs x ≤ 1,
    // k ≥ 2 needs 1.25·x/k ≤ 1 for the largest (headroomed) slice
    val perKey = TripleStore.predictedBloomBytes(1000000000L, 1e-9) / 1e9
    def rows(x: Double): Long = (x * ceiling / perKey).toLong
    for ((x, k) <- Seq(1.5 -> 2, 2.0 -> 3, 3.5 -> 5)) {
      val n = rows(x)
      assert(TripleStore.syncSliceCount(n) == k, s"$n rows")
      val slices = TripleStore.ringSlices(k)
      assert(slices.size == k)
      TripleStore.ringCaps(n, k).foreach(cap =>
        assert(TripleStore.predictedBloomBytes(cap, 1e-9) <= ceiling, s"k = $k, cap $cap"))
      // the arcs tile the whole ring: contiguous, sizes summing to 2⁶⁴
      slices.zip(slices.tail :+ slices.head).foreach { case (s1, s2) => assert(s1.end == s2.start) }
      assert(slices.map(ks => BigInt(java.lang.Long.toUnsignedString(ks.mag))).sum == BigInt(1) << 64)
    }
  }

  test("bloom builder re-passes a slice whose cap the keys exceeded") {
    import org.apache.spark.sql.functions.{col, concat}
    import org.apache.spark.util.sketch.BloomFilter
    val keys = spark.range(1000).select(concat(lit("key:"), col("id")).as("k"))
    def probeAll(keyed: org.apache.spark.sql.DataFrame, bfs: Array[BloomFilter]): Long =
      keyed.filter(TripleStore.bloomProbe(spark, col("k"), col("s"), bfs)).count()
    val exactBits = BloomFilter.create(1000, 1e-9).bitSize
    // one slice, cap 100 < 1000 keys
    val one = keys.withColumn("s", lit(0))
    val bf1 = TripleStore.buildBlooms(one, Seq(100L))
    assert(bf1.head.bitSize == exactBits)
    assert(probeAll(one, bf1) == 1000)
    // four slices, every key in slice 2: only that slice is rebuilt
    val skewed = keys.withColumn("s", lit(2))
    val bf4 = TripleStore.buildBlooms(skewed, Seq.fill(4)(100L))
    assert(bf4.map(_.bitSize).toSeq ==
      Seq(0, 1, 2, 3).map(i => if (i == 2) exactBits else BloomFilter.create(100, 1e-9).bitSize))
    assert(probeAll(skewed, bf4) == 1000)
  }

  test("bloom sizing skips files under _temporary, like Spark's file listing") {
    import spark.implicits._
    val st = freshStore()
    st.insert((0 until 12000).map(i => Triple(s"s:$i", "p", s"o$i")).toDF())
    val before = st.bloom().bitSize
    // past the MinBloomItems floor the cap is the exact row count
    assert(before == org.apache.spark.util.sketch.BloomFilter.create(12000, 1e-9).bitSize)
    // a data file copied where an in-flight or killed append leaves its
    // task output; Spark's reader never lists it
    val root = new org.apache.hadoop.fs.Path(st.path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val data = fs.listFiles(root, true)
    var file = data.next().getPath
    while (!file.getName.endsWith(".parquet")) file = data.next().getPath
    val planted = new org.apache.hadoop.fs.Path(root,
      s"_temporary/0/_temporary/attempt_0/${file.getParent.getName}/${file.getName}")
    org.apache.hadoop.fs.FileUtil.copy(fs, file, fs, planted, false, spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(planted))
    st.refresh()
    assert(st.count() == 12000)
    assert(st.bloom().bitSize == before)
  }

  test("empty JSON query ([]) matches everything — never prunes to zero buckets") {
    val st = loaded()
    val eng = new Engine(st)
    assert(eng.queryJson("[]").count() == 4)
    assert(graft.expr.PatternCompiler.rootSubjects(graft.model.ArrayOp.Or(Nil)).isEmpty)
  }

  test("keyspace guard applies BEFORE limit (no under-returning)") {
    import spark.implicits._
    val st = freshStore()
    // many in-keyspace rows + many out-of-keyspace rows
    val inKs = (0 until 20).map(i => Triple(s"in$i", "p", s"$i"))
    val outKs = (0 until 20).map(i => Triple(s"out$i", "p", s"$i"))
    st.insert((inKs ++ outKs).toDF())
    val hashes = inKs.map(t => graft.functions.Murmur3x64.hash64(t.subj))
    // a keyspace that covers exactly the in* subjects
    val cover = hashes.map(h => graft.model.Keyspace(h, h + 1))
      .reduce((a, b) => a.union(b).getOrElse(
        graft.model.Keyspace(0L, -1L))) // fall back to near-full ring if disjoint
    // regardless of coverage construction, a per-subject check must hold:
    hashes.foreach { h =>
      val ks = graft.model.Keyspace(h, h + 1)
      val got = st.query(graft.model.ArrayOp.of(TriplePattern()), 5, Some(ks))
      assert(got.count() == 1) // exactly the one in-range subject, limit not starving it
    }
    assert(cover != null)
  }

  test("query with a keyspace guard drops out-of-range subjects (core/binary.go:17-37)") {
    val st = loaded()
    val h = graft.functions.Murmur3x64.hash64("/m/0hume")
    val ks = graft.model.Keyspace(h, h + 1)
    val got = spo(st.query(graft.model.ArrayOp.of(TriplePattern()), -1, Some(ks)))
    assert(got.map(_._1) == Set("/m/0hume"))
    // complement keyspace sees exactly the rest
    val comp = ks.complement.get
    val rest = spo(st.query(graft.model.ArrayOp.of(TriplePattern()), -1, Some(comp)))
    assert(rest.map(_._1) == Set("/m/02mjmr"))
  }

  test("keyspace-sliced bloom only covers the slice") {
    import spark.implicits._
    val st = freshStore()
    st.insert(fixture.toDF())
    val h = graft.functions.Murmur3x64.hash64("/m/02mjmr")
    val ks = graft.model.Keyspace(h, h + 1)
    val bf = st.bloom(Some(ks))
    val got = spo(st.triplesMatchingBloom(bf))
    assert(got.map(_._1) == Set("/m/02mjmr"))
  }

  test("eachTripleBatch streams the store in bounded batches (triplestore.go:173-195)") {
    import spark.implicits._
    val st = freshStore()
    st.insert((0 until 25).map(i => Triple(s"s$i", "p", s"o$i")).toDF())
    val batches = st.eachTripleBatch(10).toSeq
    assert(batches.map(_.size) == Seq(10, 10, 5))
    assert(batches.flatten.map(_.subj).toSet == (0 until 25).map(i => s"s$i").toSet)
  }

  test("TripleIO: JSON and CSV round-trip through conform") {
    import spark.implicits._
    val dir = tmpDir("graft-io")
    val df = fixture.toDF()
    graft.sources.TripleIO.writeJson(df, s"$dir/j")
    graft.sources.TripleIO.writeCsv(df, s"$dir/c")
    graft.sources.TripleIO.writeOrc(df, s"$dir/o")
    val fromJson = spo(graft.sources.TripleIO.readJson(spark, s"$dir/j"))
    val fromCsv = spo(graft.sources.TripleIO.readCsv(spark, s"$dir/c"))
    val fromOrc = spo(graft.sources.TripleIO.readOrc(spark, s"$dir/o"))
    val want = fixture.map(t => (t.subj, t.pred, t.obj)).toSet
    assert(fromJson == want)
    assert(fromCsv == want)
    assert(fromOrc == want)
    // malformed identities never survive conform
    val bad = Seq(("", "p", null: String)).toDF("subj", "pred", "obj")
    assert(graft.store.TripleStore.conform(bad).count() == 0)
  }

  test("compact merges append files, preserves content") {
    import spark.implicits._
    val st = freshStore(buckets = 4)
    // three separate appends → ≥3 files per touched bucket
    (0 until 3).foreach { b =>
      st.insert((0 until 20).map(i => Triple(s"s${b}_$i", "p", s"o$i")).toDF())
    }
    val before = st.all.collect().map(_.toString).toSet
    def fileCount: Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(st.path)).count(_.getName.endsWith(".parquet"))
    }
    val filesBefore = fileCount
    st.compact()
    assert(st.all.collect().map(_.toString).toSet == before)
    assert(fileCount < filesBefore, s"$fileCount !< $filesBefore")
    assert(st.count() == 60)
  }

  test("rooted query prunes partitions (bucket pushdown)") {
    val st = loaded()
    val plan = st.query(ArrayOp.of(TriplePattern(subj = Some("/m/02mjmr"))))
      .queryExecution.executedPlan.toString
    // the scan must carry a partition filter on bucket
    assert(plan.contains("PartitionFilters") || plan.contains("bucket"))
  }

  // ---- relation reuse: freshness, coherence, concurrency, zero jobs ----

  test("the fixed store schema equals the schema parquet infers for a written store") {
    val st = loaded()
    assert(TripleStore.StoreSchema == spark.read.parquet(st.path).schema)
    assert(st.raw.schema == TripleStore.StoreSchema)
  }

  test("insert after a read: query and count see the new rows") {
    import spark.implicits._
    val st = loaded()
    val root = ArrayOp.of(TriplePattern(subj = Some("/m/0new")))
    assert(st.count() == 4 && st.query(root).count() == 0)
    assert(st.insert(Seq(Triple("/m/0new", "/type/object/name", "New")).toDF()) == 1)
    assert(st.count() == 5)
    assert(spo(st.query(root)) == Set(("/m/0new", "/type/object/name", "New")))
    assert(st.query(ArrayOp.of(TriplePattern(pred = Some("/type/object/name")))).count() == 3)
  }

  test("compact after a read: all returns the same triples from the new files") {
    import spark.implicits._
    val st = freshStore(buckets = 4)
    (0 until 2).foreach { b =>
      st.insert((0 until 10).map(i => Triple(s"s${b}_$i", "p", s"o$i")).toDF())
    }
    val before = st.all.collect().map(_.toString).toSet
    st.compact()
    // a stale relation would list the moved-away append files
    assert(st.all.collect().map(_.toString).toSet == before)
    assert(st.query(ArrayOp.of(TriplePattern(subj = Some("s1_3")))).count() == 1)
  }

  test("a write through one store is visible to a second store on the same path") {
    import spark.implicits._
    val a = loaded()
    // another spelling of the same directory shares the relation
    val b = new TripleStore(spark, "file:" + a.path, 8)
    assert(b.count() == 4)
    assert(a.insert(Seq(Triple("/m/0new", "p", "o")).toDF()) == 1)
    assert(b.count() == 5)
    assert(b.query(ArrayOp.of(TriplePattern(subj = Some("/m/0new")))).count() == 1)
  }

  test("refresh picks up files written to the path without a store") {
    import spark.implicits._
    val st = loaded()
    assert(st.count() == 4)
    Seq(Triple("/m/0new", "p", "o")).toDF()
      .withColumn("bucket", lit(TripleStore.bucketOf("/m/0new", 8)))
      .write.mode("append").partitionBy("bucket").parquet(st.path)
    // reads keep the resolved relation until told otherwise
    assert(st.count() == 4)
    st.refresh()
    assert(st.count() == 5)
    assert(st.query(ArrayOp.of(TriplePattern(subj = Some("/m/0new")))).count() == 1)
  }

  test("readers racing an insert see the old or the new triples and never fail") {
    import spark.implicits._
    val st = freshStore()
    val old = (0 until 40).map(i => Triple(s"s$i", "p", s"o$i"))
    val added = (0 until 40).map(i => Triple(s"t$i", "p", s"o$i"))
    st.insert(old.toDF())
    val oldSet = old.map(t => (t.subj, t.pred, t.obj)).toSet
    val newSet = oldSet ++ added.map(t => (t.subj, t.pred, t.obj))
    val inserted = new AtomicBoolean(false)
    val seen = new ConcurrentLinkedQueue[Set[(String, String, String)]]()
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val readers = (0 until 2).map { _ =>
      val t = new Thread(() =>
        try {
          while (!inserted.get) seen.add(spo(st.all))
          seen.add(spo(st.all)) // one read after the insert returned
        } catch { case e: Throwable => errors.add(e) })
      t.start()
      t
    }
    try assert(st.insert(added.toDF()) == 40)
    finally {
      inserted.set(true)
      readers.foreach(_.join())
    }
    assert(errors.isEmpty, errors.asScala.headOption.map(_.toString).getOrElse(""))
    val sets = seen.asScala.toSeq
    assert(sets.size >= 2)
    assert(sets.forall(s => s == oldSet || s == newSet),
      sets.map(_.size).distinct.mkString("set sizes seen: ", ",", ""))
    assert(spo(st.all) == newSet)
  }

  test("building queries on a warmed store and asking for their plans runs no Spark job") {
    import spark.implicits._
    // 64 buckets with data in most of them: past Spark's 32-path
    // threshold, listing the store is itself a Spark job
    val st = freshStore(buckets = 64)
    st.insert((0 until 400).map(i => Triple(s"n$i", "next", s"n${(i + 1) % 400}")).toDF())
    val eng = new Engine(st)
    def plans(): Unit = {
      Seq(
        st.query(ArrayOp.of(TriplePattern(subj = Some("n7")))),
        st.query(ArrayOp.of(TriplePattern(pred = Some("next"), obj = Some("n9")))),
        eng.executeQuery(Seq(
          ArrayOp.of(TriplePattern(subj = Some("n1"))),
          ArrayOp.of(TriplePattern(pred = Some("next"))),
          ArrayOp.of(TriplePattern(pred = Some("next"))))),
        eng.queryJson("""[{"subj":"n3"},{"subj":"n4"}]""")
      ).foreach(_.queryExecution.executedPlan)
    }
    // the counter sees the listing job of a cold resolve
    st.refresh()
    assert(jobsRunBy(plans()) >= 1)
    assert(jobsRunBy(plans()) == 0)
    // and the answers still come from the store
    assert(spo(eng.executeQuery(Seq(
      ArrayOp.of(TriplePattern(subj = Some("n1"))),
      ArrayOp.of(TriplePattern(pred = Some("next"))),
      ArrayOp.of(TriplePattern(pred = Some("next")))))) == Set(("n3", "next", "n4")))
  }

  test("count answers from the relation's parquet footers: no job when warm, equal to a scan after every write") {
    import spark.implicits._
    val st = freshStore(buckets = 64)
    def same(after: String): Unit = assert(st.count() == st.all.count(), after)
    st.insert((0 until 300).map(i => Triple(s"c$i", "p", s"o$i")).toDF())
    same("insert")
    assert(jobsRunBy { st.count(); st.info() } == 0)
    assert(st.info().triples == 300)
    st.insertSigned(Seq(Triple("c1", "p", "o1"), Triple("c1", "q", "x")).toDF(),
      graft.functions.TripleCrypto.generateKeyPair())
    same("insertSigned")
    assert(st.count() == 301)
    st.compact()
    same("compact")
    // an outside writer, then refresh()
    Seq(Triple("/m/0new", "p", "o")).toDF()
      .withColumn("bucket", lit(TripleStore.bucketOf("/m/0new", 64)))
      .write.mode("append").partitionBy("bucket").parquet(st.path)
    st.refresh()
    same("refresh after an outside write")
    assert(st.count() == 302)
    // a part file left under _temporary by a killed append is not read
    val root = new org.apache.hadoop.fs.Path(st.path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val data = fs.listFiles(root, true)
    var file = data.next().getPath
    while (!file.getName.endsWith(".parquet")) file = data.next().getPath
    org.apache.hadoop.fs.FileUtil.copy(fs, file, fs, new org.apache.hadoop.fs.Path(root,
      s"_temporary/0/_temporary/attempt_0/${file.getParent.getName}/${file.getName}"),
      false, spark.sparkContext.hadoopConfiguration)
    st.refresh()
    same("planted _temporary part file")
    assert(st.count() == 302)
  }
}
