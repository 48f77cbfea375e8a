package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorFunctions

/** PQ quality + persistence contract: ADC scores must equal the exact
  * dot with the RECONSTRUCTED vector (the defining identity of product
  * quantization), ranking quality must clear a recall floor on
  * clusterable data, codes must be deterministic, and the persisted
  * index must append file-additively with replay suppression. */
class QuantizeSpec extends SparkSpec {

  private def clusteredVecs(n: Int = 500, nClusters: Int = 20,
      dim: Int = 64, sigma: Double = 0.2): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(nClusters) {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / norm)
    }
    (0 until n).map { i =>
      val c = centers(i % nClusters)
      (i.toLong, c.map(x => (x + sigma * rnd.nextGaussian()).toFloat))
    }
  }

  test("ADC score equals the dot product with the reconstructed vector") {
    import spark.implicits._
    val vecs = clusteredVecs(120)
    val df = vecs.toDF("vec_id", "embedding")
    val cb = Quantize.trainPqCodebook(df, m = 8, k = 16)
    val sub = cb(0)(0).length
    val got = df.select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"),
        Quantize.pqEncodeCol(cb, col("embedding")).as("codes"))
      .collect()
    // pick an arbitrary deterministic query and verify, per row:
    //   Σⱼ tbl[j][code_j]  ==  dot(q̂, decode(codes))
    val q = {
      val v = vecs(7)._2.map(_.toDouble)
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val tbl = (0 until cb.length).map { j =>
      val qj = q.slice(j * sub, (j + 1) * sub)
      cb(j).map(c => c.zip(qj).map { case (a, b) => a * b }.sum)
    }
    got.foreach { r =>
      val codes = r.getSeq[Byte](2)
      val adc = codes.zipWithIndex.map { case (c, j) => tbl(j)(c.toInt) }.sum
      val decoded = codes.zipWithIndex.flatMap { case (c, j) => cb(j)(c.toInt) }
      val exactDot = decoded.zip(q).map { case (a, b) => a * b }.sum
      assert(math.abs(adc - exactDot) < 1e-9,
        s"ADC ${adc} != reconstructed dot $exactDot for vec ${r.getLong(0)}")
    }
    // codes are within range and the right arity
    got.foreach { r =>
      val codes = r.getSeq[Byte](2)
      assert(codes.length == 8)
      assert(codes.forall(c => c >= 0 && c < 16))
    }
  }

  test("PQ + rerank recall ≥ 0.9 on clusterable data; exhaustive == brute force") {
    VectorFunctions.register(spark)
    import spark.implicits._
    val vecs = clusteredVecs()
    val df = vecs.toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("pq_idx").toString +
      "/index"
    assert(Quantize.ensurePqIndex(spark, df, idx), "first ensure must build")
    assert(!Quantize.ensurePqIndex(spark, df, idx), "same corpus: no rebuild")
    val queries = df.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
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
    val ann = Quantize.probePqIndex(spark, idx, queries, df, k = 5,
        rerankN = 64).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = (ann & truth).size.toDouble / truth.size
    assert(recall >= 0.9, s"PQ clustered recall $recall < 0.9")
    // approximation off (rerank everything) ⇒ exact brute-force answer
    val exhaustive = Quantize.probePqIndex(spark, idx, queries, df, k = 5,
        rerankN = 0).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rnk"),
        r.getAs[Long]("vec_id"))).toSet
    val bf = truth // truth is already the exact top-5 set
    assert(exhaustive.map(t => (t._1, t._3)) == bf,
      "exhaustive PQ probe must equal brute force")
  }

  test("IVFADC: recall ≥ 0.9 clustered at nprobe=4; both-knobs-off == brute force") {
    VectorFunctions.register(spark)
    import spark.implicits._
    val vecs = clusteredVecs()
    val df = vecs.toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("ivfpq").toString +
      "/index"
    assert(Quantize.ensureIvfPqIndex(spark, df, idx))
    assert(!Quantize.ensureIvfPqIndex(spark, df, idx))
    val queries = df.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
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
    val ann = Quantize.probeIvfPqIndex(spark, idx, queries, df, k = 5,
        nprobe = 4, rerankN = 64).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = (ann & truth).size.toDouble / truth.size
    assert(recall >= 0.9, s"IVFADC clustered recall $recall < 0.9")
    val exhaustive = Quantize.probeIvfPqIndex(spark, idx, queries, df,
        k = 5, nprobe = 16, rerankN = 0).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    assert(exhaustive == truth,
      "IVFADC with both knobs off must equal brute force")
    // the cells hold codes, not vectors: the compression is real
    val cellSchema = spark.read.parquet(s"$idx/cells").schema
    assert(!cellSchema.fieldNames.contains("embedding"),
      "IVFADC cells must store codes only, never the raw vectors")
  }

  test("IVFADC append: file-additive into affected cells, replay no-op, probe sees union") {
    VectorFunctions.register(spark)
    import spark.implicits._
    val vecs = clusteredVecs(400)
    val df = vecs.toDF("vec_id", "embedding")
    val even = df.filter(col("vec_id") % 2 === 0)
    val odd = df.filter(col("vec_id") % 2 === 1)
    val idx = java.nio.file.Files.createTempDirectory("ivfpq_ap").toString +
      "/index"
    Quantize.buildIvfPqIndex(spark, even, idx)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(idx), spark.sparkContext.hadoopConfiguration)
    def cellFiles() = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$idx/cells"), true)
      val buf = scala.collection.mutable.Map[String, Long]()
      while (it.hasNext) {
        val st = it.next()
        if (!st.getPath.getName.startsWith("_"))
          buf(st.getPath.toString) = st.getModificationTime
      }
      buf.toMap
    }
    val before = cellFiles()
    Quantize.appendToIvfPqIndex(spark, odd, idx)
    val after = cellFiles()
    before.foreach { case (p, mtime) =>
      assert(after.contains(p) && after(p) == mtime,
        s"pre-append cell file $p was touched")
    }
    assert(after.size > before.size)
    Quantize.appendToIvfPqIndex(spark, odd, idx)
    assert(cellFiles() == after, "replayed append must be a no-op")
    assert(!Quantize.ensureIvfPqIndex(spark, df, idx),
      "append must advance the fingerprint to the union's")
    // an appended id is findable through the full probe
    val queries = df.filter(col("vec_id") === 1)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val res = Quantize.probeIvfPqIndex(spark, idx, queries, df, k = 5,
      nprobe = 16, rerankN = 0).collect()
    assert(res.length == 5)
  }

  test("streaming IVFADC sink: exhaustive probe sees every streamed id; founding replay no-ops") {
    VectorFunctions.register(spark)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val vecs = clusteredVecs(300)
    val df = vecs.toDF("vec_id", "embedding")
    def ingest(idx: String,
        chunks: Seq[Seq[(Long, Array[Float])]]): Unit = {
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Array[Float])]
      val q = mem.toDF().toDF("vec_id", "embedding")
        .writeStream.foreachBatch(Quantize.foreachBatchIvfPqSink(idx))
        .start()
      try chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
      finally q.stop()
    }
    val idx = java.nio.file.Files.createTempDirectory("ivfpq_s")
      .toString + "/idx"
    ingest(idx, Seq(vecs.take(100), vecs.slice(100, 250), vecs.drop(250)))
    // the quality of codes depends on the founding batch (codebook and
    // centroids freeze there — documented); RESULT-level equivalence is
    // asserted where it is exact: both knobs off ≡ brute force over
    // everything the stream delivered, regardless of chopping
    val queries = df.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val got = Quantize.probeIvfPqIndex(spark, idx, queries, df, k = 5,
        nprobe = 16, rerankN = 0).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val truth = (0 until 10).flatMap { q =>
      vecs.filter(_._1 != q)
        .map { case (id, v) => (id, cos(vecs(q)._2, v)) }
        .sortBy { case (id, s) => (-s, id) }.take(5)
        .map { case (id, _) => (q.toLong, id) }
    }.toSet
    assert(got == truth,
      "exhaustive probe through the streamed index must equal brute force")
    // founding-batch redelivery: committed inside the build swap → no-op
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(idx), spark.sparkContext.hadoopConfiguration)
    def files() = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(idx), true)
      val buf = scala.collection.mutable.Map[String, Long]()
      while (it.hasNext) {
        val st = it.next(); buf(st.getPath.toString) = st.getModificationTime
      }
      buf.toMap
    }
    val before = files()
    Quantize.foreachBatchIvfPqSink(idx)(
      vecs.take(100).toDF("vec_id", "embedding"), 0L)
    assert(files() == before,
      "a redelivered founding batch must not change any index file")
  }

  test("codes are deterministic: two independent builds produce identical indexes") {
    import spark.implicits._
    val df = clusteredVecs(200).toDF("vec_id", "embedding")
    val a = java.nio.file.Files.createTempDirectory("pq_a").toString + "/i"
    val b = java.nio.file.Files.createTempDirectory("pq_b").toString + "/i"
    Quantize.buildPqIndex(spark, df, a)
    Quantize.buildPqIndex(spark, df, b)
    def codes(d: String) = spark.read.parquet(s"$d/codes")
      .collect().map(r => (r.getLong(0), r.getSeq[Byte](1))).toSet
    assert(codes(a) == codes(b))
    def book(d: String) = spark.read.parquet(s"$d/codebook")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      .toSet
    assert(book(a) == book(b))
  }

  test("append is file-additive, replay-suppressed, and fingerprint-advancing") {
    VectorFunctions.register(spark)
    import spark.implicits._
    val vecs = clusteredVecs(400)
    val df = vecs.toDF("vec_id", "embedding")
    val even = df.filter(col("vec_id") % 2 === 0)
    val odd = df.filter(col("vec_id") % 2 === 1)
    val idx = java.nio.file.Files.createTempDirectory("pq_ap").toString +
      "/index"
    Quantize.buildPqIndex(spark, even, idx)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(idx), spark.sparkContext.hadoopConfiguration)
    def codeFiles() = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$idx/codes"), true)
      val buf = scala.collection.mutable.Map[String, Long]()
      while (it.hasNext) {
        val st = it.next()
        if (!st.getPath.getName.startsWith("_"))
          buf(st.getPath.toString) = st.getModificationTime
      }
      buf.toMap
    }
    val before = codeFiles()
    Quantize.appendToPqIndex(spark, odd, idx)
    val after = codeFiles()
    // untouched files keep physical identity (the O(batch) proof)
    before.foreach { case (p, mtime) =>
      assert(after.contains(p), s"pre-append file $p disappeared")
      assert(after(p) == mtime, s"pre-append file $p was rewritten")
    }
    assert(after.size > before.size, "append must add files")
    // replay: same batch content is a no-op (no new files)
    Quantize.appendToPqIndex(spark, odd, idx)
    assert(codeFiles() == after, "replayed append must be a no-op")
    // the additive fingerprint matches the union ⇒ ensure does not rebuild
    assert(!Quantize.ensurePqIndex(spark, df, idx),
      "append must advance the fingerprint to the union's")
    // probes see build + append rows: an appended (odd) id can be found
    val queries = df.filter(col("vec_id") === 1)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val res = Quantize.probePqIndex(spark, idx, queries, df, k = 5,
      rerankN = 0).collect()
    assert(res.length == 5, "probe through the appended index must work")
  }

  test("SQ8 scalar quantization: codes in [0,255], per-component error " +
      "bounded by scale/2 (+1 ulp headroom), constant dims exact, " +
      "extremes map to the end codes") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(-2.0f, 10.0f, 7.5f)),
      (2L, Array(0.5f, 10.0f, -1.25f)),
      (3L, Array(4.0f, 10.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    val params = Quantize.sqTrain(vecs).collect()
      .map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).toMap
    assert(params(0) == ((-2.0, 4.0, 6.0 / 255)))
    assert(params(1)._3 == 0.0, "constant dim must get scale 0")
    val enc = Quantize.sqEncode(vecs, Quantize.sqTrain(vecs)).collect()
    enc.foreach { r =>
      val (x, mn, scale, code) = (r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5))
      assert(code >= 0L && code <= 255L, s"$r")
      val recon = mn + scale * code
      if (scale == 0.0) assert(recon == x, s"constant dim must be exact")
      else assert(math.abs(x - recon) <= scale / 2 * 1.0000001, s"$r")
    }
    // extremes hit the end codes
    val byKey = enc.map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(5))
      .toMap
    assert(byKey((1L, 0)) == 0L && byKey((3L, 0)) == 255L)
  }

  test("SQ8 array encode agrees with the exploded encode code-for-code, " +
      "and the asymmetric scan retrieves a planted near-pair through " +
      "the codes") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // 5 well-separated directions; each vector and its +100 twin share
    // one, with noise far below the separation AND above the SQ8 step
    val base = Array.tabulate(5)(k =>
      Array.tabulate(8)(d => if (d == k) 10.0f else 0.0f))
    val vecs = (0 until 10).map { i =>
      val b = base(i % 5)
      (i.toLong + (if (i < 5) 0L else 100L - 5L),
        b.map(_ + rnd.nextFloat() * 0.5f))
    }.toDF("vec_id", "embedding")
    val (mns, scales) = Quantize.sqParams(vecs)
    val arr = Quantize.sqEncodeArray(vecs, mns, scales)
      .select(col("vec_id"), posexplode(col("codes")))
      .select(col("vec_id"), col("pos").cast("int").as("dim"),
        col("col").as("code"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    val exploded = Quantize.sqEncode(vecs, Quantize.sqTrain(vecs))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(5))
      .toMap
    assert(arr == exploded,
      "array and exploded encodes must agree code-for-code")
    // asymmetric scan: each vector's nearest non-self through the CODES
    // must be its twin (vec_id ± 95 by construction)
    val corpus = Quantize.sqEncodeArray(vecs, mns, scales)
      .select(col("vec_id"),
        Quantize.sqDecode(col("codes"), mns, scales).as("r"))
    val q = vecs.select(col("vec_id").as("q_id"),
      transform(col("embedding"), x => x.cast("double")).as("q"))
    val dot = aggregate(zip_with(col("q"), col("r"), (a, b) => a * b),
      lit(0.0d), (acc, v) => acc + v)
    val qn = aggregate(col("q"), lit(0.0d), (a, x) => a + x * x)
    val nn = aggregate(col("r"), lit(0.0d), (a, x) => a + x * x)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
    val top1 = corpus.crossJoin(q).filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dot / (sqrt(qn) * sqrt(nn))).as("sim"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") === 1)
      .select("q_id", "vec_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    top1.foreach { case (qid, nn1) =>
      val twin = if (qid < 5) qid + 100 else qid - 100
      assert(nn1 == twin, s"query $qid: nearest through SQ8 codes was " +
        s"$nn1, expected twin $twin")
    }
  }

  test("IVF-SQ8: recall ≥ 0.9 clustered at nprobe=4; both-knobs-off == " +
      "brute force; cells hold codes only") {
    VectorFunctions.register(spark)
    import spark.implicits._
    val vecs = clusteredVecs()
    val df = vecs.toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("ivfsq").toString +
      "/index"
    assert(Quantize.ensureIvfSqIndex(spark, df, idx))
    assert(!Quantize.ensureIvfSqIndex(spark, df, idx))
    val queries = df.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
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
    val ann = Quantize.probeIvfSqIndex(spark, idx, queries, df, k = 5,
        nprobe = 4, rerankN = 64).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = (ann & truth).size.toDouble / truth.size
    assert(recall >= 0.9, s"IVF-SQ8 clustered recall $recall < 0.9")
    val exhaustive = Quantize.probeIvfSqIndex(spark, idx, queries, df,
        k = 5, nprobe = 16, rerankN = 0).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    assert(exhaustive == truth,
      "IVF-SQ8 with both knobs off must equal brute force")
    val cellSchema = spark.read.parquet(s"$idx/cells").schema
    assert(!cellSchema.fieldNames.contains("embedding"),
      "IVF-SQ8 cells must store codes only, never the raw vectors")
  }

  test("IVF-SQ8 append: frozen centroids AND frozen params, file-additive " +
      "into affected cells, replay no-op, fingerprint advances to the " +
      "union; purge removes code rows with a negative fingerprint") {
    VectorFunctions.register(spark)
    import spark.implicits._
    val vecs = clusteredVecs(400)
    val df = vecs.toDF("vec_id", "embedding")
    val even = df.filter(col("vec_id") % 2 === 0)
    val odd = df.filter(col("vec_id") % 2 === 1)
    val idx = java.nio.file.Files.createTempDirectory("ivfsq_ap")
      .toString + "/index"
    Quantize.buildIvfSqIndex(spark, even, idx)
    val paramsBefore = spark.read.parquet(s"$idx/sqparams")
      .orderBy("dim").collect().map(r => (r.getInt(0), r.getDouble(1),
        r.getDouble(2))).toSeq
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(idx), spark.sparkContext.hadoopConfiguration)
    def cellFiles() = {
      val it = fs.listFiles(
        new org.apache.hadoop.fs.Path(s"$idx/cells"), true)
      val buf = scala.collection.mutable.Map[String, Long]()
      while (it.hasNext) {
        val st = it.next()
        if (!st.getPath.getName.startsWith("_"))
          buf(st.getPath.toString) = st.getModificationTime
      }
      buf.toMap
    }
    val before = cellFiles()
    Quantize.appendToIvfSqIndex(spark, odd, idx)
    val after = cellFiles()
    before.foreach { case (p, mtime) =>
      assert(after.contains(p) && after(p) == mtime,
        s"pre-append cell file $p was touched")
    }
    assert(after.size > before.size)
    Quantize.appendToIvfSqIndex(spark, odd, idx)
    assert(cellFiles() == after, "replayed append must be a no-op")
    assert(!Quantize.ensureIvfSqIndex(spark, df, idx),
      "append must advance the fingerprint to the union's")
    assert(spark.read.parquet(s"$idx/sqparams").orderBy("dim").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2))).toSeq ==
      paramsBefore, "append must never retrain the quantization params")
    // an appended id is findable through the exhaustive probe
    val q1 = df.filter(col("vec_id") === 1)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    assert(Quantize.probeIvfSqIndex(spark, idx, q1, df, k = 5,
      nprobe = 16, rerankN = 0).count() == 5)
    // RTBF purge: code rows leave; fingerprint subtracts so ensure over
    // the filtered corpus does NOT rebuild; the probe can't reach them
    val doomed: Seq[Any] = Seq(2L, 3L)
    val removed = VectorIndex.purge(spark, idx, doomed,
      df.filter(col("vec_id").isInCollection(doomed)))
    assert(removed > 0L)
    assert(spark.read.parquet(s"$idx/cells")
      .filter(col("vec_id").isInCollection(doomed)).count() == 0L)
    assert(!Quantize.ensureIvfSqIndex(spark,
      df.filter(!col("vec_id").isInCollection(doomed)), idx),
      "the negative fingerprint must match the filtered corpus")
    val res = Quantize.probeIvfSqIndex(spark, idx,
      q1, df, k = 400, nprobe = 16, rerankN = 0).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    assert(!res.contains(2L) && !res.contains(3L))
  }

  test("sqClampRate: zero for in-range batches, exact fraction for " +
      "out-of-range components; the streaming sink surfaces it " +
      "through onDrift without ever rebuilding mid-stream") {
    VectorFunctions.register(spark)
    import spark.implicits._
    val base = (1L to 50L).map(i =>
      (i, Seq(((i % 10) / 10.0).toFloat, ((i % 7) / 7.0).toFloat)))
      .toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("sq_clamp")
      .toString + "/index"
    Quantize.buildIvfSqIndex(spark, base, idx, nlist = 2, replicas = 1)
    // the training batch itself: nothing clamps
    assert(Quantize.sqClampRate(spark, idx, base) == 0.0)
    // a batch where exactly one of two components per row saturates
    // (first dim 10x the trained max, second dim in range) → rate 0.5
    val half = (100L to 119L).map(i =>
      (i, Seq(9.0f, ((i % 7) / 7.0).toFloat)))
      .toDF("vec_id", "embedding")
    assert(Quantize.sqClampRate(spark, idx, half) == 0.5)
    // ENCODER-EXACT at the saturation boundary: the rate runs the
    // identical floor((x-mn)/scale + 0.5) arithmetic as sqEncodeCol,
    // so a component that ENCODES clamped COUNTS clamped — including
    // the exact edge x = mn + 255.5·scale, which the encoder saturates
    // (floor = 256) but a strict > threshold test would miss
    locally {
      val (mns, scales) = {
        val rows = spark.read.parquet(s"$idx/sqparams")
          .orderBy("dim").collect()
        (rows.map(_.getAs[Double]("mn")), rows.map(_.getAs[Double]("scale")))
      }
      val probes = Seq(
        mns(0) + 255.5 * scales(0),  // exact upper saturation edge
        mns(0) + 255.0 * scales(0),  // trained max: in range
        mns(0) - 0.5 * scales(0),    // exact lower edge: floor → 0
        mns(0) - 0.51 * scales(0))   // below: clamps to code 0
      val batch = probes.zipWithIndex.map { case (x, i) =>
        (500L + i, Seq(x.toFloat, mns(1).toFloat)) }
        .toDF("vec_id", "embedding")
      // reference = the ENCODER's own arithmetic on the float-rounded
      // inputs (second dim sits at its mn: never clamps)
      val expected = probes.map(_.toFloat.toDouble).count { x =>
        val q = math.floor((x - mns(0)) / scales(0) + 0.5)
        q < 0.0 || q > 255.0
      }.toDouble / (probes.size * 2)
      assert(expected > 0.0, "fixture must include clamping probes")
      assert(Quantize.sqClampRate(spark, idx, batch) == expected,
        s"rate must match the encoder's own floor arithmetic exactly " +
          s"(expected $expected)")
    }
    // streaming sink: the calm batch stays silent, the drifted batch
    // fires the callback with its batch id + measured rate — and the
    // index params stay frozen either way (no mid-stream rebuild)
    val paramsBefore = spark.read.parquet(s"$idx/sqparams")
      .orderBy("dim").collect().toSeq
    val fired = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val sink = Quantize.foreachBatchIvfSqSink(idx, nlist = 2,
      replicas = 1, clampThreshold = 0.2,
      onDrift = (id, r) => fired += ((id, r)))
    sink(base.filter(col("vec_id") > 40), 7L) // calm
    assert(fired.isEmpty)
    sink(half, 8L) // drifted
    assert(fired.toList == List((8L, 0.5)))
    assert(spark.read.parquet(s"$idx/sqparams").orderBy("dim")
      .collect().toSeq == paramsBefore,
      "the sink must never retrain mid-stream")
  }

  test("streaming IVF-SQ8 sink: exhaustive probe sees every streamed " +
      "id regardless of micro-batch chopping; founding replay no-ops") {
    VectorFunctions.register(spark)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val vecs = clusteredVecs(300)
    val df = vecs.toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("ivfsq_s")
      .toString + "/idx"
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val q = mem.toDF().toDF("vec_id", "embedding")
      .writeStream.foreachBatch(Quantize.foreachBatchIvfSqSink(idx))
      .start()
    try Seq(vecs.take(100), vecs.slice(100, 250), vecs.drop(250))
      .foreach { c => mem.addData(c); q.processAllAvailable() }
    finally q.stop()
    // params + centroids froze at the founding batch (documented);
    // result equivalence is asserted where it is EXACT: both knobs off
    // ≡ brute force over everything the stream delivered
    val queries = df.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val got = Quantize.probeIvfSqIndex(spark, idx, queries, df, k = 5,
        nprobe = 16, rerankN = 0).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val truth = (0 until 10).flatMap { qi =>
      vecs.filter(_._1 != qi)
        .map { case (id, v) => (id, cos(vecs(qi)._2, v)) }
        .sortBy { case (id, s) => (-s, id) }.take(5)
        .map { case (id, _) => (qi.toLong, id) }
    }.toSet
    assert(got == truth,
      "exhaustive probe through the streamed SQ8 index must equal " +
        "brute force")
  }
}
