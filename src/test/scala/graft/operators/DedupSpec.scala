package graft.operators

import graft.SparkSpec

/** Dedup semantics: the approximate operators (MinHash-LSH, SimHash) are
  * validated against the exact trigram-Jaccard pairs they approximate —
  * the planted near-duplicates in the synthetic corpus must surface. */
class DedupSpec extends SparkSpec {

  private lazy val exactPairs: Set[(Long, Long)] =
    Dedup.q33NgramJaccard(spark, sfDir)
      .select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("exact trigram-Jaccard finds the planted near-dup pairs") {
    assert(exactPairs.nonEmpty, "corpus should contain planted near-dups")
    exactPairs.foreach { case (a, b) => assert(a < b) }
  }

  test("prefix-filtered Jaccard join equals the full inverted-index join") {
    val sh = Dedup.shingleRows(graft.Tables.load(spark, sfDir, "documents"))
    val full = Dedup.jaccardPairs(sh).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    val pp = Dedup.prefixFilterJaccardPairs(sh, 3, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(pp == full, "prefix filter must be lossless AND add nothing")
  }

  test("prefix-filter property: lossless on random set families (incl. ties)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    // random (doc, shingle) presence over a small vocab — adversarial
    // for the prefix theorem: heavy frequency ties, singleton sets,
    // identical sets, and pairs sitting exactly on the τ boundary
    val corpusGen = Gen.listOfN(10,
      Gen.nonEmptyListOf(Gen.choose(0, 11).map(i => s"s$i")))
    val prop = Prop.forAll(corpusGen) { docs =>
      val sh = docs.zipWithIndex
        .flatMap { case (ss, i) => ss.distinct.map(s => (i.toLong, s)) }
        .toDF("doc_id", "s")
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      val full = Dedup.jaccardPairs(sh).collect().map(key).toMap
      val pp = Dedup.prefixFilterJaccardPairs(sh, 3, 5)
        .collect().map(key).toMap
      pp == full
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("prefix filter actually prunes: prefix rows ≈ (1−τ) of shingle rows") {
    val sh = Dedup.shingleRows(graft.Tables.load(spark, sfDir, "documents"))
    val total = sh.count()
    val prefix = Dedup.jaccardPrefixRows(sh, 3, 5).count()
    // τ = 0.6 → per-set prefix is n − ⌈0.6n⌉ + 1 ≤ 0.4n + 1; with the
    // +1 slack over ~500 docs the global ratio stays clearly below 0.55
    assert(prefix < (total * 0.55).toLong,
      s"prefix rows $prefix of $total — the filter is not pruning")
  }

  test("MinHash-LSH recalls every exact pair with no false positives") {
    val mh = Dedup.q32MinhashLsh(spark, sfDir)
      .select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((exactPairs -- mh).isEmpty,
      s"missed pairs: ${exactPairs -- mh}")
    assert((mh -- exactPairs).isEmpty,
      s"false positives: ${mh -- exactPairs}")
  }

  test("SimHash banding recalls most exact pairs with no false positives") {
    val sh = Dedup.q34Simhash(spark, sfDir)
      .select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (sh & exactPairs).size.toDouble / exactPairs.size
    assert(recall >= 0.85, s"recall $recall < 0.85")
    assert((sh -- exactPairs).isEmpty, s"false positives: ${sh -- exactPairs}")
  }

  test("containment catches a short doc quoted inside a long one that Jaccard misses") {
    import spark.implicits._
    // doc 1 = 10 unique words; doc 2 quotes it whole inside 40 more words.
    // Trigram sets: |A| = 8, A ⊂ B, |B| ≫ |A| → containment 1.0 but
    // Jaccard = 8/|B| ≈ 0.17, far below q33's 0.6 threshold.
    val quoted = (1 to 10).map(i => s"q$i").mkString(" ")
    val host = (1 to 20).map(i => s"h$i").mkString(" ") + " " + quoted +
      " " + (21 to 40).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, quoted), (2L, host),
      (3L, (1 to 30).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val sh = Dedup.shingleRows(docs)
    val cont = Dedup.containmentPairs(sh, 0.9).collect()
    assert(cont.map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 2L)))
    assert(cont.head.getAs[Double]("cont") === 1.0,
      "a strict shingle subset must score containment 1.0")
    assert(Dedup.jaccardPairs(sh).count() === 0,
      "the case is invisible to symmetric Jaccard at its threshold")
  }

  test("exact dedup removes exactly the planted duplicate rows") {
    val res = Dedup.q31DedupExact(spark, sfDir).collect()
    res.foreach { r =>
      val raw = r.getAs[Long]("n_raw")
      val ded = r.getAs[Long]("n_dedup")
      assert(ded <= raw)
    }
    val totalRaw = res.map(_.getAs[Long]("n_raw")).sum
    val totalDed = res.map(_.getAs[Long]("n_dedup")).sum
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val n = docs.count()
    val dupd = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 10 === 0).count()
    assert(totalRaw == n + dupd)
    assert(totalDed == n)
  }

  test("embedding near-dup LSH only reports pairs above threshold") {
    val rows = Dedup.q35EmbedNearDup(spark, sfDir).collect()
    rows.foreach(r => assert(r.getAs[Double]("sim") >= 0.3))
  }

  test("incremental dedup via the persisted index equals the one-shot pipeline") {
    import org.apache.spark.sql.functions._
    val d = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val idx = java.nio.file.Files.createTempDirectory("mh_idx").toString +
      "/index"
    Dedup.buildMinhashIndex(spark, d, idx)
    val incoming = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
    val inc = Dedup.incrementalNearDups(spark, idx, incoming).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // one-shot truth: full-corpus MinHash-LSH over old ∪ new, restricted
    // to cross pairs — the persisted path must reproduce it exactly
    val sig = Dedup.minhashSignatures(d.unionByName(incoming)).cache()
    sig.count()
    val full = Dedup.minhashCandidates(sig)
    val sa = sig.select(col("doc_id").as("a"), col("sig").as("sig_a"))
    val sb = sig.select(col("doc_id").as("b"), col("sig").as("sig_b"))
    val oneShot = full.join(sa, "a").join(sb, "b")
      .withColumn("est",
        size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)), v => v === 1))
          .cast("double") / 64)
      .filter(col("est") >= 0.5)
      .filter(col("b") >= 5000000L && col("a") < 5000000L)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(inc == oneShot,
      s"persisted-index probe diverged: ${inc.size} vs ${oneShot.size}")
    // every planted copy collides with its original at estimate 1.0
    val planted = d.filter(col("doc_id") % 10 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    planted.foreach(id =>
      assert(inc.contains((id, id + 5000000L)), s"copy of $id missed"))
  }

  test("appending a batch to the index equals rebuilding over the union") {
    import org.apache.spark.sql.functions._
    val d = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val base = java.nio.file.Files.createTempDirectory("mh_app").toString
    val appended = s"$base/appended"
    val rebuilt = s"$base/rebuilt"
    Dedup.buildMinhashIndex(spark, d.filter(col("doc_id") % 2 === 0), appended)
    Dedup.appendToMinhashIndex(spark, d.filter(col("doc_id") % 2 === 1),
      appended)
    Dedup.buildMinhashIndex(spark, d, rebuilt)
    def sigs(p: String): Set[(Long, Seq[Long])] =
      spark.read.parquet(s"$p/signatures").collect()
        .map(r => (r.getAs[Long]("doc_id"),
          r.getAs[Seq[Long]]("sig").toList: Seq[Long])).toSet
    // bands are compared on the LIVE VIEW: the file-additive append
    // leaves dead rows of cap-crossed buckets on disk by design, and
    // readMinhashBands is the reader contract every probe goes through
    def bands(p: String): Set[(Long, Int, Long)] =
      Dedup.readMinhashBands(spark, p).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("band"),
          r.getAs[Long]("bh"))).toSet
    assert(sigs(appended) == sigs(rebuilt),
      "appended signature table diverged from a fresh rebuild")
    assert(bands(appended) == bands(rebuilt),
      "appended band view diverged from a fresh rebuild")
    // ... and compaction preserves the view while purging dead rows
    Dedup.compactMinhashIndex(spark, appended)
    assert(sigs(appended) == sigs(rebuilt),
      "compaction changed the signature table")
    assert(bands(appended) == bands(rebuilt),
      "compaction changed the live band view")
  }

  test("append is file-additive and idempotent (untouched files keep identity)") {
    import org.apache.spark.sql.functions._
    val d = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val base = java.nio.file.Files.createTempDirectory("mh_mtime").toString
    val idx = s"$base/idx"
    Dedup.buildMinhashIndex(spark, d.filter(col("doc_id") % 2 === 0), idx)
    // snapshot of every data file: (path -> (mtime, length))
    def snapshot(): Map[String, (Long, Long)] = {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(idx), spark.sparkContext.hadoopConfiguration)
      def walk(p: org.apache.hadoop.fs.Path): Seq[(String, (Long, Long))] =
        fs.listStatus(p).toSeq.flatMap { st =>
          if (st.isDirectory) walk(st.getPath)
          else Seq(st.getPath.toString ->
            (st.getModificationTime, st.getLen))
        }
      walk(new org.apache.hadoop.fs.Path(idx)).toMap
    }
    val before = snapshot()
    val batch = d.filter(col("doc_id") % 2 === 1)
    Dedup.appendToMinhashIndex(spark, batch, idx)
    val after = snapshot()
    // O(batch) I/O, proven physically: every pre-existing file is still
    // there, byte-identical (same mtime + length) — the append added
    // files, it rewrote nothing (the r5 layout rewrote both tables here)
    before.foreach { case (path, id) =>
      assert(after.get(path).contains(id),
        s"append rewrote or removed pre-existing index file $path")
    }
    assert(after.size > before.size, "append should have added files")
    // replaying the same batch is a no-op at the file level: the
    // content-derived batch id is already in the append ledger
    Dedup.appendToMinhashIndex(spark, batch, idx)
    assert(snapshot() == after,
      "replaying an applied batch must not touch the index")
  }

  test("crash between move and ledger converges on retry (no size double-count)") {
    import org.apache.spark.sql.functions._
    val d = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val even = d.filter(col("doc_id") % 2 === 0)
    val odd = d.filter(col("doc_id") % 2 === 1)
    val base = java.nio.file.Files.createTempDirectory("mh_crash").toString
    val idx = s"$base/idx"
    val ref = s"$base/ref"
    Dedup.buildMinhashIndex(spark, even, idx)
    Dedup.appendToMinhashIndex(spark, odd, idx)
    // simulate the crash window: batch files fully moved into the live
    // tree, ledger entry lost — the retry MUST NOT read its own placed
    // size deltas as corpus base (the delete-tagged-before-stage order)
    val applied = new java.io.File(s"$idx/_applied").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
    assert(applied.length == 1, "expected exactly one plain ledger entry")
    assert(applied.head.delete())
    Dedup.appendToMinhashIndex(spark, odd, idx) // retry
    Dedup.buildMinhashIndex(spark, even, ref)
    Dedup.appendToMinhashIndex(spark, odd, ref)
    def sizes(p: String): Map[(Any, Any), Long] =
      spark.read.parquet(s"$p/bucket_sizes")
        .groupBy(col("band"), col("bh")).agg(sum(col("sz")).as("sz"))
        .collect().map(r => ((r.get(0), r.get(1)), r.getLong(2))).toMap
    assert(sizes(idx) == sizes(ref),
      "retried append double-counted its own partially-placed deltas")
    assert(spark.read.parquet(s"$idx/signatures").count() ==
      spark.read.parquet(s"$ref/signatures").count(),
      "retried append duplicated signatures")
  }

  test("compaction carries the replay ledger: a redelivered batch still no-ops") {
    import org.apache.spark.sql.functions._
    val d = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val odd = d.filter(col("doc_id") % 2 === 1)
    val base = java.nio.file.Files.createTempDirectory("mh_cmpl").toString
    val idx = s"$base/idx"
    Dedup.buildMinhashIndex(spark, d.filter(col("doc_id") % 2 === 0), idx)
    Dedup.appendToMinhashIndex(spark, odd, idx)
    Dedup.compactMinhashIndex(spark, idx)
    def snapshot(): Map[String, (Long, Long)] = {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(idx), spark.sparkContext.hadoopConfiguration)
      def walk(p: org.apache.hadoop.fs.Path): Seq[(String, (Long, Long))] =
        fs.listStatus(p).toSeq.flatMap { st =>
          if (st.isDirectory) walk(st.getPath)
          else Seq(st.getPath.toString ->
            (st.getModificationTime, st.getLen))
        }
      walk(new org.apache.hadoop.fs.Path(idx)).toMap
    }
    val after = snapshot()
    // the streaming-redelivery scenario: sink appended, process died
    // before the checkpoint committed, compaction ran in the gap, the
    // engine re-delivers the batch — it must still read as applied
    Dedup.appendToMinhashIndex(spark, odd, idx)
    assert(snapshot() == after,
      "a batch redelivered after compaction re-applied (ledger lost)")
  }

  test("append re-applies the bucket cap on MERGED bucket sizes") {
    import spark.implicits._
    // identical texts → identical signatures → one bucket per band; 600
    // docs is under the 1000 cap at build, another 600 pushes the merged
    // bucket to 1200 — the append must drop ALL its rows (old included),
    // exactly as a fresh build over the union would
    def docs(lo: Long, n: Int) = (lo until lo + n)
      .map(i => (i, "aa bb cc dd ee ff gg")).toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("mh_cap").toString
    val idx = s"$base/idx"
    Dedup.buildMinhashIndex(spark, docs(0, 600), idx)
    assert(Dedup.readMinhashBands(spark, idx).count() > 0,
      "600-doc buckets should be under the cap at build time")
    Dedup.appendToMinhashIndex(spark, docs(1000, 600), idx)
    assert(Dedup.readMinhashBands(spark, idx).count() == 0,
      "merged 1200-doc buckets must vanish from the live view")
    // the build's 600 old rows stay on disk (file-additive append never
    // rewrites them) — dead until compaction purges them
    assert(spark.read.parquet(s"$idx/bands").count() == 600 * 16,
      "pre-crossing rows should still be physically present")
    Dedup.compactMinhashIndex(spark, idx)
    assert(spark.read.parquet(s"$idx/bands").count() == 0,
      "compaction must purge the dead rows physically")
    assert(spark.read.parquet(s"$idx/signatures").count() == 1200,
      "signatures are never capped — all docs remain probe-able")
    val union = s"$base/union"
    Dedup.buildMinhashIndex(spark,
      docs(0, 600).unionByName(docs(1000, 600)), union)
    assert(Dedup.readMinhashBands(spark, union).count() == 0,
      "fresh build over the union agrees: bucket over cap → no band rows")
  }

  test("incremental probe pins no cache entries on the hot path") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("mh_nocache").toString
    val idx = s"$base/idx"
    val d = Dedup.q33NgramJaccard(spark, sfDir) // warm anything lazy
    d.count()
    val corpus = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    Dedup.buildMinhashIndex(spark, corpus, idx)
    val incoming = corpus.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val before = spark.sparkContext.getPersistentRDDs.size
    Dedup.incrementalNearDups(spark, idx, incoming).count()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after == before,
      s"probe leaked ${after - before} cache entr(ies)")
  }

  test("streaming batches probe the persisted index like one batch probe") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    // the production daily-batch story: a stream of incoming docs,
    // foreachBatch probing the SAME persisted index — micro-batch
    // boundaries must not change what surfaces
    val base = java.nio.file.Files.createTempDirectory("mh_stream").toString
    val idx = s"$base/idx"
    val corpus = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    Dedup.buildMinhashIndex(spark, corpus, idx)
    val incoming = corpus.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .as[(Long, String)].collect()
    val want = Dedup.incrementalNearDups(spark, idx,
        incoming.toSeq.toDF("doc_id", "text"))
      .select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val got = scala.collection.mutable.Set[(Long, Long)]()
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    // two micro-batches split mid-stream
    mem.addData(incoming.take(incoming.length / 2).toSeq)
    val q = mem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized {
          got ++= Dedup.incrementalNearDups(spark, idx, batch)
            .select("a", "b").collect()
            .map(r => (r.getLong(0), r.getLong(1)))
        }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      mem.addData(incoming.drop(incoming.length / 2).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    assert(got.toSet === want,
      "micro-batch boundaries must not change the probe's result")
  }

  test("streaming index sink: chopping-invariant live view, founding-batch replay no-ops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .filter(org.apache.spark.sql.functions.col("doc_id") < 120)
      .as[(Long, String)].collect().toSeq
    def ingest(idx: String, chunks: Seq[Seq[(Long, String)]]): Unit = {
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val q = mem.toDF().toDF("doc_id", "text")
        .writeStream.foreachBatch(Dedup.foreachBatchIndexSink(idx))
        .start()
      try chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
      finally q.stop()
    }
    val oneShot = java.nio.file.Files.createTempDirectory("mhs1")
      .toString + "/idx"
    val chopped = java.nio.file.Files.createTempDirectory("mhs2")
      .toString + "/idx"
    ingest(oneShot, Seq(docs))
    ingest(chopped, Seq(docs.take(40), docs.slice(40, 90), docs.drop(90)))
    def sigs(d: String) = spark.read.parquet(s"$d/signatures")
      .select("doc_id").as[Long].collect().toSet
    def bands(d: String) = Dedup.readMinhashBands(spark, d)
      .collect().map(r => (r.getLong(2), r.getInt(0), r.getLong(1))).toSet
    assert(sigs(oneShot) == sigs(chopped),
      "micro-batch chopping must not change the signature table")
    assert(bands(oneShot) == bands(chopped),
      "micro-batch chopping must not change the live band view")
    // engine-style redelivery of the FOUNDING batch: the content id was
    // committed inside the build swap, so this must be a file-level no-op
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(chopped), spark.sparkContext.hadoopConfiguration)
    def files(d: String) = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(d), true)
      val buf = scala.collection.mutable.Map[String, Long]()
      while (it.hasNext) {
        val st = it.next(); buf(st.getPath.toString) = st.getModificationTime
      }
      buf.toMap
    }
    val before = files(chopped)
    Dedup.foreachBatchIndexSink(chopped)(docs.take(40).toDF("doc_id", "text"), 0L)
    assert(files(chopped) == before,
      "a redelivered founding batch must not change any index file")
  }

  // ---- duplicated-span dedup (ExactSubstr-style) ----

  private def spans(df: org.apache.spark.sql.DataFrame) =
    Dedup.duplicatedSpans(df, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def kept(df: org.apache.spark.sql.DataFrame) =
    Dedup.stripDuplicatedSpans(df, 8).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap

  test("duplicated spans: partial cross-doc, within-doc, and whole-doc") {
    import spark.implicits._
    val docs = Seq(
      1L -> "a b c d e f g h i j k l",               // shares c..j with d2
      2L -> "x1 x2 c d e f g h i j x3 x4",
      3L -> "p q r s t u v w",                       // unique — no spans
      4L -> "r1 r2 r3 r4 r5 r6 r7 r8 z r1 r2 r3 r4 r5 r6 r7 r8", // self-rep
      5L -> "m1 m2 m3 m4 m5 m6 m7 m8",               // d5 ≡ d6 whole-doc
      6L -> "m1 m2 m3 m4 m5 m6 m7 m8"
    ).toDF("doc_id", "text")
    assert(spans(docs) === Set(
      (1L, 2L, 9L), (2L, 2L, 9L),          // the shared 8 words only
      (4L, 0L, 7L), (4L, 9L, 16L),         // both copies, NOT merged across z
      (5L, 0L, 7L), (6L, 0L, 7L)))
    val k = kept(docs)
    assert(k === Map(
      1L -> "a b k l", 2L -> "x1 x2 x3 x4",
      3L -> "p q r s t u v w",             // untouched doc passes through
      4L -> "z"))                          // fully-dup docs 5/6 disappear
  }

  test("span property: randomly planted blocks are recovered exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // 20 all-unique-word docs (no organic dups possible), then 5 pairs of
    // docs sharing a 10-word block planted at random offsets
    val base = (0L until 20L).map(i =>
      i -> (0 until 30).map(j => s"d${i}w$j").mkString(" "))
    val expected = scala.collection.mutable.Set[(Long, Long, Long)]()
    val planted = (0 until 5).flatMap { p =>
      val block = (0 until 10).map(k => s"p${p}b$k")
      Seq(0, 1).map { side =>
        val id = 100L + p * 2 + side
        val filler = (0 until 25).map(j => s"f${id}w$j")
        val off = rnd.nextInt(filler.size - 1) + 1 // never at pos 0: test interior
        expected += ((id, off.toLong, off.toLong + 9))
        id -> (filler.take(off) ++ block ++ filler.drop(off)).mkString(" ")
      }
    }
    val docs = (base ++ planted).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected.toSet)
    // stripping removes exactly the 10 block words from each planted doc
    val kept = Dedup.stripDuplicatedSpans(docs, 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    expected.foreach { case (id, _, _) => assert(kept(id) === 25L) }
    base.foreach { case (id, _) => assert(kept(id) === 30L) }
  }

  test("keep-first strip preserves exactly the canonical occurrence") {
    import spark.implicits._
    val docs = Seq(
      1L -> "a b c d e f g h i j k l",               // canonical for c..j
      2L -> "x1 x2 c d e f g h i j x3 x4",           // later copy → stripped
      3L -> "p q r s t u v w",
      4L -> "r1 r2 r3 r4 r5 r6 r7 r8 z r1 r2 r3 r4 r5 r6 r7 r8",
      5L -> "m1 m2 m3 m4 m5 m6 m7 m8",               // canonical whole-doc
      6L -> "m1 m2 m3 m4 m5 m6 m7 m8"                // copy → disappears
    ).toDF("doc_id", "text")
    val k = Dedup.stripDuplicatedSpansKeepFirst(docs, 8).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(k === Map(
      1L -> "a b c d e f g h i j k l",               // untouched: canonical
      2L -> "x1 x2 x3 x4",
      3L -> "p q r s t u v w",
      4L -> "r1 r2 r3 r4 r5 r6 r7 r8 z",             // first copy survives
      5L -> "m1 m2 m3 m4 m5 m6 m7 m8"))              // doc 6 vanished
  }

  test("decontamination strips benchmark spans only, keeps clean text") {
    import spark.implicits._
    val corpus = Seq(
      1L -> "a b LEAK1 LEAK2 LEAK3 LEAK4 LEAK5 LEAK6 LEAK7 LEAK8 y z",
      2L -> "c1 c2 c3 c4 c5 c6 c7 c8 c9",                // clean — untouched
      3L -> "LEAK1 LEAK2 LEAK3 LEAK4 LEAK5 LEAK6 LEAK7 LEAK8", // fully leaked
      // corpus-internal duplicate block NOT in the bench — must survive
      4L -> "d1 d2 d3 d4 d5 d6 d7 d8 tail",
      5L -> "d1 d2 d3 d4 d5 d6 d7 d8 other"
    ).toDF("doc_id", "text")
    val bench = Seq(
      100L -> "q: LEAK1 LEAK2 LEAK3 LEAK4 LEAK5 LEAK6 LEAK7 LEAK8 a?"
    ).toDF("doc_id", "text")
    val kept = Dedup.stripContaminatedSpans(corpus, bench, 8).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(kept === Map(
      1L -> "a b y z",                    // leaked slice gone, framing kept
      2L -> "c1 c2 c3 c4 c5 c6 c7 c8 c9",
      // doc 3 stripped to nothing → disappears
      4L -> "d1 d2 d3 d4 d5 d6 d7 d8 tail",  // corpus-only dup: NOT stripped
      5L -> "d1 d2 d3 d4 d5 d6 d7 d8 other"))
    val spans = Dedup.contaminatedSpans(corpus, bench, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(spans === Set((1L, 2L, 9L), (3L, 0L, 7L)))
  }

  test("overlapping duplicated grams merge into one maximal span") {
    import spark.implicits._
    // c..k = 9 shared words → two overlapping dup 8-grams per doc, which
    // must merge into a single maximal span (the islands step)
    val docs = Seq(
      7L -> "y1 c d e f g h i j k y2",
      8L -> "w1 w2 c d e f g h i j k w3"
    ).toDF("doc_id", "text")
    assert(spans(docs) === Set((7L, 1L, 9L), (8L, 2L, 10L)))
    assert(kept(docs) === Map(7L -> "y1 y2", 8L -> "w1 w2 w3"))
  }

  test("jaccardThresholdSweep: hand buckets and descending cumulative") {
    import spark.implicits._
    // docs 1,2 identical (jac 1.0 -> bucket 10); doc 3 shares 1 of 3
    // union trigrams with each (jac 1/3 -> bucket 3)
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c d"), (3L, "a b c x")
    ).toDF("doc_id", "text")
    val got = Dedup.jaccardThresholdSweep(Dedup.shingleRows(docs))
      .collect()
      .map(r => (r.getInt(0), r.getAs[Long]("n_pairs"),
        r.getAs[Long]("n_pairs_ge"))).toSet
    assert(got == Set((10, 1L, 1L), (3, 2L, 3L)))
  }

  test("hot-gram span dedup SPILLS the window buffer to disk, result exact") {
    import spark.implicits._
    // The one per-key sort left in the dedup family is the per-gram
    // count window: a site-wide boilerplate gram lands its whole
    // occurrence list on ONE WindowExec task. The scale contract is
    // sort-with-spill (UnsafeExternalSorter), never OOM — CONFIRM it by
    // forcing the buffer thresholds down and metering disk spill, on a
    // corpus where one boilerplate block occurs in 600 documents.
    val spilled = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          spilled.addAndGet(e.taskMetrics.diskBytesSpilled)
    }
    val inMemKey = "spark.sql.windowExec.buffer.in.memory.threshold"
    val spillKey = "spark.sql.windowExec.buffer.spill.threshold"
    val oldInMem = spark.conf.getOption(inMemKey)
    val oldSpill = spark.conf.getOption(spillKey)
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.conf.set(inMemKey, "4")
      spark.conf.set(spillKey, "8")
      val boiler = "all rights reserved contact us for terms of " +
        "service details"
      val docs = (1 to 600).map(i =>
        (i.toLong, s"u${i}a u${i}b u${i}c $boiler")).toDF("doc_id", "text")
      val spans = Dedup.duplicatedSpans(docs, 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // every doc reports exactly the boilerplate span: words 3..12
      assert(spans.length == 600)
      assert(spans.forall { case (_, s, e) => s == 3L && e == 12L },
        s"unexpected spans: ${spans.take(3).toSeq}")
      // the forced thresholds made the hot partitions overflow the
      // in-memory buffer — confirm bytes actually hit disk
      var waited = 0
      while (spilled.get() == 0L && waited < 50) {
        Thread.sleep(100); waited += 1
      }
      assert(spilled.get() > 0L,
        "hot-gram window must spill to disk under memory pressure, " +
          "not buffer unboundedly")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      oldInMem.fold(spark.conf.unset(inMemKey))(
        v => spark.conf.set(inMemKey, v))
      oldSpill.fold(spark.conf.unset(spillKey))(
        v => spark.conf.set(spillKey, v))
    }
  }

  test("strategy selector: flat posting lists pick the plain inverted " +
      "index; a stopword-skewed corpus picks the prefix filter; the auto " +
      "path is output-identical either way") {
    import spark.implicits._
    // flat profile: every trigram unique to its doc → skew ≈ 1
    val flat = (1 to 60).map(i => (i.toLong,
      s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"))
      .toDF("doc_id", "text")
    val shFlat = Dedup.shingleRows(flat).localCheckpoint()
    val stFlat = Dedup.chooseJaccardStrategy(shFlat)
    assert(!stFlat.usePrefixFilter,
      s"flat lists must pick the plain join: $stFlat")
    // stopword-skewed: a 10-word spine shared by EVERY doc (its interior
    // trigrams have df = n_docs) + a unique tail → skew far above mean
    val skewed = (1 to 60).map(i => (i.toLong,
      s"the of and to in a is that it was u$i v$i w$i x$i"))
      .toDF("doc_id", "text")
    val shSkew = Dedup.shingleRows(skewed).localCheckpoint()
    val stSkew = Dedup.chooseJaccardStrategy(shSkew)
    assert(stSkew.usePrefixFilter,
      s"stopword-hot lists must pick the prefix filter: $stSkew")
    assert(stSkew.maxDf == 60L, "a spine trigram appears in every doc")
    // the selector only moves COST — results are identical on both paths
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b", "inter").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    for (sh <- Seq(shFlat, shSkew)) {
      assert(pairs(Dedup.jaccardPairsAuto(sh, 3, 5)) ==
        pairs(Dedup.jaccardPairsAt(sh, 3, 5)))
    }
    // and the q33 threshold is exactly jaccardPairsAt(3, 5)
    assert(pairs(Dedup.jaccardPairsAt(
        Dedup.shingleRows(flat.limit(20)), 3, 5)) ==
      pairs(Dedup.jaccardPairs(Dedup.shingleRows(flat.limit(20)))))
  }

  test("window-counted bucket cap ≡ the groupBy cap: over-cap buckets drop, " +
      "pairs and singletons behave") {
    import spark.implicits._
    // 1100 byte-identical docs: every band bucket they share holds 1100 >
    // MaxBucketSize, so the cap must exclude ALL of them from candidate
    // generation (boilerplate collapse). Two identical unique docs share
    // size-2 buckets and MUST surface; one singleton doc shares nothing.
    val boiler = (1L to 1100L).map(i =>
      (i, "common boilerplate words repeated " * 5))
    val near = Seq(
      (5001L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (5002L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    val lone = Seq((9999L, "entirely unique words nothing shares these"))
    val docs = (boiler ++ near ++ lone).toDF("doc_id", "text")
    val mh = Dedup.minhashCandidates(Dedup.minhashSignatures(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh == Set((5001L, 5002L)),
      s"minhash candidates must be exactly the planted uncapped pair: $mh")
    val sh = Dedup.simhashPairs(Dedup.simhash64(docs))
      .select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sh == Set((5001L, 5002L)),
      s"simhash pairs must be exactly the planted uncapped pair: $sh")
  }

  test("cross-side Jaccard pairs: overlapping sides fail loudly, " +
      "disjoint sides keep every pair") {
    import spark.implicits._
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val sh = Dedup.shingleRows(
      Seq((1L, text), (2L, text), (3L, text)).toDF("doc_id", "text"))
    val ok = Dedup.crossJaccardPairs(sh, $"doc_id" === 3L)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ok.toSet == Set((1L, 3L), (2L, 3L)))
    // doc 1 on the right side lies below left-side docs 2 and 3
    val e = intercept[Exception](
      Dedup.crossJaccardPairs(sh, $"doc_id" === 1L).collect())
    assert(e.getMessage.contains("right-side id is not above"))
  }
}
