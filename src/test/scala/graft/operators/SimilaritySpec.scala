package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.VectorFunctions

class SimilaritySpec extends SparkSpec {

  test("cosine_sim expression matches a reference implementation") {
    VectorFunctions.register(spark)
    import spark.implicits._
    val a = Array(1.0f, 2.0f, 3.0f)
    val b = Array(-1.0f, 0.5f, 2.0f)
    val expected = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      dot / (na * nb)
    }
    val got = Seq((a, b)).toDF("a", "b")
      .select(expr("cosine_sim(a, b)")).as[Double].head()
    assert(math.abs(got - expected) < 1e-12)
  }

  test("cosine_sim agrees between codegen and interpreted paths") {
    VectorFunctions.register(spark)
    import spark.implicits._
    val df = graft.Tables.load(spark, sfDir, "embeddings").limit(50)
      .select(col("vec_id"), col("embedding"))
    val self = df.select(expr("cosine_sim(embedding, embedding)").as("s"))
      .as[Double].collect()
    // self-similarity is exactly 1 up to float/double rounding
    self.foreach(s => assert(math.abs(s - 1.0) < 1e-9))
    // zero-vector guard
    val z = Seq((Array(0.0f, 0.0f), Array(1.0f, 2.0f))).toDF("a", "b")
      .select(expr("cosine_sim(a, b)")).as[Double].head()
    assert(z == 0.0)
  }

  test("brute-force top-k returns exactly k neighbors per query, self excluded") {
    val res = Similarity.q36CosineTopK(spark, sfDir).collect()
    val byQ = res.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.size == 20)
    byQ.foreach { case (q, rows) =>
      assert(rows.length == 5)
      assert(rows.map(_.getAs[Int]("rnk")).sorted.sameElements(1 to 5))
      rows.foreach(r => assert(r.getAs[Long]("vec_id") != q))
    }
  }

  test("IVF ANN reaches a sane recall floor vs brute force on the corpus") {
    val bf = Similarity.q36CosineTopK(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val ann = Similarity.q37AnnIvf(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = (ann & bf).size.toDouble / bf.size
    // The synthetic corpus is near-clusterless (top-5 neighbor cosine
    // ~0.32 vs ~0.29 p99 of random pairs), so candidate recall for ANY
    // sub-linear index is ≈ the scanned fraction — here nprobe·replicas/
    // nlist = 0.5. Trained centroids + multi-assignment land well above
    // that floor; the clustered-fixture test below is the real quality
    // gate.
    assert(recall >= 0.6, s"recall $recall < 0.6")
  }

  test("IVF ANN recall ≥ 0.9 on clusterable data (nprobe=4)") {
    VectorFunctions.register(spark)
    import spark.implicits._
    // 20 well-separated clusters on the unit sphere, σ=0.2 spread
    val rnd = new scala.util.Random(11)
    val dim = 64
    val centers = Array.fill(20) {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n))
    }
    val vecs = (0 until 500).map { i =>
      val c = centers(i % 20)
      (i.toLong, c.map(x => (x + 0.2 * rnd.nextGaussian()).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    // brute-force truth, computed locally
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      dot / (na * nb)
    }
    val truth = (0 until 20).flatMap { q =>
      vecs.filter(_._1 != q)
        .map { case (id, v) => (id, cos(vecs(q)._2, v)) }
        .sortBy { case (id, s) => (-s, id) }.take(5)
        .map { case (id, _) => (q.toLong, id) }
    }.toSet
    val ann = Similarity.annIvf(df).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = (ann & truth).size.toDouble / truth.size
    assert(recall >= 0.9, s"clustered recall $recall < 0.9")
  }

  test("persisted IVF index: probe equals one-shot; rebuilds only on corpus change") {
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val idx = java.nio.file.Files.createTempDirectory("ivf_idx").toString +
      "/index"

    val built = Similarity.ensureIvfIndex(spark, e, idx)
    assert(built, "first ensure must build")
    // identical parameters → identical results through the persisted path
    val oneShot = Similarity.annIvf(e).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val indexed = Similarity.annIvfIndexed(spark, e, idx).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(indexed == oneShot,
      "persisted-index probe must reproduce the one-shot plan exactly")
    // unchanged corpus: ensure is a no-op (one fingerprint pass, no write)
    assert(!Similarity.ensureIvfIndex(spark, e, idx),
      "same corpus must not rebuild")
    // index is cell-partitioned on disk — the probe's pruning substrate
    val cellDirs = java.nio.file.Files.list(
      java.nio.file.Paths.get(s"$idx/cells"))
    try {
      import scala.jdk.CollectionConverters._
      assert(cellDirs.iterator().asScala
        .count(_.getFileName.toString.startsWith("cell=")) > 1)
    } finally cellDirs.close()
    // corpus change (one appended vector) → fingerprint miss → rebuild
    val grown = e.unionByName(e.limit(1)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"),
        col("label")))
    assert(Similarity.ensureIvfIndex(spark, grown, idx),
      "changed corpus must rebuild")
  }

  test("IVF append: full probe equals brute force; no rebuild; no file rewrites") {
    graft.functions.VectorFunctions.register(spark)
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val idx = java.nio.file.Files.createTempDirectory("ivf_app").toString +
      "/index"
    Similarity.buildIvfIndex(spark, e.filter(col("vec_id") % 5 =!= 0), idx)
    def listing(): Map[String, Set[String]] = {
      val base = new java.io.File(s"$idx/cells")
      base.listFiles().filter(_.getName.startsWith("cell=")).map { d =>
        d.getName -> d.listFiles().map(_.getName)
          .filter(_.endsWith(".parquet")).toSet
      }.toMap
    }
    val before = listing()
    Similarity.appendToIvfIndex(spark, e.filter(col("vec_id") % 5 === 0), idx)
    val after = listing()
    // append only ADDS files — existing cell files are never rewritten
    before.foreach { case (cell, files) =>
      assert(files.subsetOf(after(cell)), s"$cell lost files in the append") }
    // the fingerprint advanced additively to the union: ensure is a no-op
    assert(!Similarity.ensureIvfIndex(spark, e, idx),
      "append must leave the union's fingerprint, not a stale one")
    // at-least-once delivery: replaying the SAME batch is a no-op — the
    // content-derived batch id is in the append ledger, so neither the
    // cell files nor the cumulative fingerprint move (the r5 scheme
    // double-appended here and the advanced marker masked it)
    Similarity.appendToIvfIndex(spark, e.filter(col("vec_id") % 5 === 0), idx)
    assert(listing() == after,
      "replaying an applied batch must not touch the cells")
    assert(!Similarity.ensureIvfIndex(spark, e, idx),
      "replaying an applied batch must not move the fingerprint")
    // exhaustive probe (nprobe = nlist) through the appended index must
    // equal brute force over the FULL corpus — lost or double-indexed
    // batch rows would show up here
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val got = Similarity.probeIvfIndex(spark, idx, q, k = 5, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id").asc)
    val brute = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        expr("cosine_sim(q_emb, embedding)").as("sim"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == brute, "appended index diverged from brute force")
  }

  test("IVF training on an empty corpus fails with a clear message") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException](
      Similarity.annIvf(empty).collect())
    assert(ex.getMessage.contains("empty"))
  }

  test("centroid is bit-identical under any partitioning, exact on fixture") {
    import spark.implicits._
    // vec_ids straddle the 1024 bucket boundary; values chosen so the
    // exact mean is representable (.25 steps)
    val rows = (0L until 2500L).map(i =>
      (i, Array(0.25f * (i % 4), 1.0f), (i % 3).toInt))
    def centroid(parts: Int) =
      Similarity.centroidByLabel(
        rows.toDF("vec_id", "embedding", "label").repartition(parts))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val c1 = centroid(1)
    val c7 = centroid(7)
    assert(c1 === c7, "fold order must not depend on partitioning")
    // dim 1 is constant 1.0 → every label's centroid there is exactly 1.0
    (0 to 2).foreach(l => assert(c1((l, 1L)) === 1.0))
    // label 0 holds vec_ids ≡ 0 (mod 3); their (i%4) cycle over 0..3 makes
    // the dim-0 mean land near 0.375 — just sanity-bound it
    assert(c1((0, 0L)) > 0.3 && c1((0, 0L)) < 0.45)
  }

  test("probing the persisted index pins no cache entries") {
    import spark.implicits._
    val e = (0L until 200L).map(i =>
      (i, Array.tabulate(8)(d => ((i + d) % 7).toFloat))).toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("ivf_nocache")
      .toString + "/idx"
    Similarity.buildIvfIndex(spark, e, idx, nlist = 4, replicas = 1)
    val before = spark.sparkContext.getPersistentRDDs.size
    val queries = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    Similarity.probeIvfIndex(spark, idx, queries, k = 3, nprobe = 2).count()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after == before,
      s"probe leaked ${after - before} cache entr(ies) — the hot path " +
        "must not grow storage memory per call")
  }

  test("RRF fusion: both-ranked beats single-ranked; absentees score one term") {
    import spark.implicits._
    val a = Seq((10L, 1L), (11L, 2L), (12L, 3L)).toDF("doc_id", "rnk")
    val b = Seq((12L, 1L), (13L, 2L)).toDF("doc_id", "rnk")
    val r = Similarity.rrfFuse(a, b, k0 = 60).collect()
      .map(x => x.getLong(1) -> (x.getLong(0), x.getDouble(2))).toMap
    // doc 12 appears in both rankings → two terms, must fuse to rank 1
    assert(r(12L)._1 === 1L)
    assert(r(12L)._2 === 1.0 / 63 + 1.0 / 61)
    // single-ranking docs carry exactly one term
    assert(r(10L)._2 === 1.0 / 61)
    assert(r(13L)._2 === 1.0 / 62)
    assert(r(11L)._2 === 1.0 / 62)
    // tie between 11 and 13 (both 1/62) breaks by doc_id
    assert(r(11L)._1 < r(13L)._1)
    assert(r.size === 4)
  }

  test("semanticDecontaminate flags scaled copies of benchmark vectors only") {
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    val bench = Seq((100L, Array(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(2.0f, 0.0f, 0.0f)),   // scaled copy: cosine 1
      (2L, Array(0.0f, 3.0f, 0.0f)),   // orthogonal: cosine 0
      (3L, Array(1.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding") // 0.707
    val r = Similarity.semanticDecontaminate(corpus, bench, "vec_id",
      "embedding", tau = 0.9).collect()
      .map(x => x.getLong(0) -> ((x.getDouble(1), x.getBoolean(2)))).toMap
    assert(r(1L) == ((1.0, true)))
    assert(r(2L) == ((0.0, false)))
    assert(r(3L)._2 == false && math.abs(r(3L)._1 - 0.7071) < 0.001)
  }

  test("IVF cells compact through Maintain.compactPartitions: probes unchanged") {
    graft.functions.VectorFunctions.register(spark)
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val idx = java.nio.file.Files.createTempDirectory("ivf_cmp").toString +
      "/index"
    // build + two appends -> each cell holds several small file sets
    Similarity.buildIvfIndex(spark, e.filter(col("vec_id") % 3 === 0), idx)
    Similarity.appendToIvfIndex(spark, e.filter(col("vec_id") % 3 === 1), idx)
    Similarity.appendToIvfIndex(spark, e.filter(col("vec_id") % 3 === 2), idx)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    def probe() = Similarity.probeIvfIndex(spark, idx, q, k = 5,
        nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    def nFiles() = {
      val base = new java.io.File(s"$idx/cells")
      base.listFiles().filter(_.getName.startsWith("cell=")).map(
        _.listFiles().count(_.getName.endsWith(".parquet"))).sum
    }
    val beforeProbe = probe()
    val beforeFiles = nFiles()
    val sum = Similarity.compactIvfIndex(spark, idx,
      targetBytes = 64L * 1024 * 1024, maxFiles = 1)
    assert(sum.partitionsCompacted > 0,
      "multi-append cells must have compactable dirs")
    assert(nFiles() < beforeFiles, "compaction must reduce the file count")
    assert(probe() == beforeProbe, "probe results must survive compaction")
    // the append ledger (index root) is untouched: a replayed batch is
    // still a no-op after compaction
    val afterFiles = nFiles()
    Similarity.appendToIvfIndex(spark, e.filter(col("vec_id") % 3 === 2), idx)
    assert(nFiles() == afterFiles,
      "replaying an applied batch after compaction must not re-append")
  }

  test("index build pays NO dedicated drift-baseline or fingerprint " +
      "pass: exactly two corpus-wide jobs (centroid sample, cells " +
      "write), and both observed sidecars match their direct " +
      "aggregates") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_jobs").toString
    val src = s"$dir/corpus"
    graft.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .write.parquet(src)
    val e = spark.read.parquet(src)
    val corpusRows = e.count()
    assert(corpusRows > 0L)
    val idx = s"$dir/index"
    val (fullScans, recordsPerJob) = corpusWideJobs(corpusRows) {
      Similarity.buildIvfIndex(spark, e, idx, nlist = 8, replicas = 2)
    }
    // the two passes a build cannot avoid: the centroid training
    // sample (TakeOrdered reads every row) and the cells write. The
    // drift baseline AND the corpus fingerprint must both ride the
    // cells write as observed metrics — a THIRD corpus-wide job means
    // a dedicated pass crept back in (it grows every index build by
    // half at any corpus size).
    assert(fullScans == 2,
      s"expected exactly 2 corpus-wide jobs in buildIvfIndex, saw " +
        s"$fullScans (records/job: " +
        s"$recordsPerJob, " +
        s"corpus $corpusRows rows)")
    // the observed sidecar aggregates equal their direct computations
    val base = Similarity.driftBase(spark, idx)
    assert(base.isDefined, "build must still persist the drift baseline")
    val direct = Similarity.batchAffinity(spark, idx, e)
    assert(math.abs(base.get - direct) < 1e-9,
      s"observed baseline ${base.get} != direct aggregate $direct")
    // the observed fingerprint is BIT-identical to the dedicated-pass
    // fold (count + order-insensitive exact decimal hash sum): the
    // rebuild trigger (ensureIvfIndex compares a fresh direct fold to
    // this marker) must not see a spurious mismatch
    val fs2 = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(idx), spark.sparkContext.hadoopConfiguration)
    val in = fs2.open(
      new org.apache.hadoop.fs.Path(idx, "_corpus_fingerprint"))
    val marker = try new String(in.readAllBytes(), "UTF-8").trim
      finally in.close()
    assert(marker.startsWith(Similarity.corpusFingerprint(e) + "|"),
      s"observed fingerprint in '$marker' != direct fold")
    // and therefore an unchanged corpus never rebuilds
    assert(!Similarity.ensureIvfIndex(spark, e, idx, nlist = 8,
      replicas = 2), "ensure must be a no-op on an unchanged corpus")
    // the code stores share the build: one corpus-wide job per trained
    // model (centroid sample, codebook sample, SQ8 param aggregate) plus
    // the rows write — counts measured on the per-kind builds they
    // replaced, so the shared build cannot add a pass unnoticed
    Seq[(String, Int, String => Unit)](
      ("PQ", 2, Quantize.buildPqIndex(spark, e, _)),
      ("IVF-PQ", 3, Quantize.buildIvfPqIndex(spark, e, _, nlist = 8,
        replicas = 2)),
      ("IVF-SQ8", 3, Quantize.buildIvfSqIndex(spark, e, _, nlist = 8,
        replicas = 2))).foreach { case (kind, expected, build) =>
      val (n, perJob) = corpusWideJobs(corpusRows)(build(s"$dir/$kind"))
      assert(n == expected, s"expected exactly $expected corpus-wide " +
        s"jobs in the $kind build, saw $n (records/job: $perJob, " +
        s"corpus $corpusRows rows)")
    }
  }

  /** (corpus-wide jobs, records read per job) while `run` executes: a
    * job whose tasks read ≥ the corpus row count is a corpus-wide pass. */
  private def corpusWideJobs(corpusRows: Long)(run: => Unit)
      : (Int, Seq[Long]) = {
    // attribute each task's input records to its job
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[
      Integer, Integer]()
    val bytesByJob = new java.util.concurrent.ConcurrentHashMap[
      Integer, java.util.concurrent.atomic.AtomicLong]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        js.stageIds.foreach(s => stageToJob.put(s, js.jobId))
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) {
          val j = stageToJob.getOrDefault(te.stageId, -1)
          bytesByJob.computeIfAbsent(j,
              _ => new java.util.concurrent.atomic.AtomicLong(0L))
            .addAndGet(te.taskMetrics.inputMetrics.recordsRead)
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      run
      Thread.sleep(1500) // listener bus drains asynchronously
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val perJob = bytesByJob.values.asScala.map(_.get()).toSeq.sorted
    (perJob.count(_ >= corpusRows), perJob)
  }
}
