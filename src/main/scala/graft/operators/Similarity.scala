package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** [EXT] Similarity search over the `embeddings` table (`array<float>`
  * column): brute-force cosine top-k as the exactness baseline, LSH-bucketed
  * ANN as the scale path.
  *
  * Scale design: the query side is tiny and broadcast — the corpus never
  * shuffles. Per-query top-k is a window over (query, candidates); at
  * production scale this becomes per-partition partial top-k (heap) + final
  * merge, which is exactly the plan Catalyst produces for window+filter(rn
  * ≤ k) after AQE; the LSH variant bounds candidates per query to bucket
  * collisions. Cosine is a native codegen'd Catalyst expression
  * ([[graft.functions.CosineSimilarity]]), not a UDF.
  */
object Similarity {

  // ---------------------------------------------------------------------
  // q36_cosine_topk — exact top-5 neighbors (by cosine) for the first 20
  // vectors, self excluded. Output is integer-only (query, rank, neighbor)
  // so the oracle compare is immune to float formatting; ranking ties are
  // broken by vec_id.
  // ---------------------------------------------------------------------
  def q36CosineTopK(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(s)
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val joined = t(s, dir, "embeddings")
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        expr("cosine_sim(q_emb, embedding)").as("sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    joined.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("vec_id"))
  }

  val q36CosineTopKSql: String =
    // CAST rnk to INT: Spark row_number is int32, DuckDB's is int64 —
    // values hash equal either way, but the dtype check should be clean
    """SELECT q_id, CAST(rnk AS INT) AS rnk, vec_id FROM (
      |  SELECT q.vec_id AS q_id, n.vec_id AS vec_id,
      |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(
      |        CAST(q.embedding AS DOUBLE[]),
      |        CAST(n.embedding AS DOUBLE[])) DESC, n.vec_id ASC) AS rnk
      |  FROM (SELECT * FROM embeddings WHERE vec_id < 20) q
      |  JOIN embeddings n ON n.vec_id <> q.vec_id)
      |WHERE rnk <= 5""".stripMargin

  // ---------------------------------------------------------------------
  // q36b_topk_agg — the same exact top-k as q36, but via the bounded
  // partial-heap Aggregator (graft.functions.TopKByScore) instead of a
  // window sort: map-side partitions reduce to k rows before the shuffle,
  // so shuffled volume is partitions×k instead of the whole candidate set.
  // Checked against the SAME oracle as q36 — two implementations, one
  // truth.
  // ---------------------------------------------------------------------
  def q36bTopKAgg(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(s)
    import s.implicits._
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val scored = t(s, dir, "embeddings")
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"),
        expr("cosine_sim(q_emb, embedding)").as("score"),
        col("vec_id").as("id"))
    val topk = udaf(new graft.functions.TopKByScore(5),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[graft.functions.ScoredId]())
    scored.groupBy(col("q_id"))
      .agg(topk(col("score"), col("id")).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).as("rnk"),
        col("col.id").as("vec_id"))
  }

  /** Hard-negative mining for contrastive training: per query, the
    * top-k most-SIMILAR corpus items with a DIFFERENT label — the
    * near-miss examples a metric-learning / retrieval objective needs
    * (easy negatives are information-free; the batch that matters is
    * the one that almost fools the model). `corpus` needs (vec_id,
    * embedding, label); `queries` (q_id, q_emb, q_label).
    *
    * Scale shape = q36b's: queries broadcast, ONE corpus scan, and the
    * bounded partial-heap Aggregator ([[graft.functions.TopKByScore]])
    * reduces every map partition to k rows before the shuffle — the
    * shuffled volume is partitions×k, never |corpus|×|queries|. For
    * corpus-sized query sets, mine through the IVF index
    * ([[probeIvfIndex]]) and anti-filter labels after. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    val spark = corpus.sparkSession
    VectorFunctions.register(spark)
    import spark.implicits._
    val scored = corpus
      .crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id") &&
        col("label") =!= col("q_label"))
      .select(col("q_id"),
        expr("cosine_sim(q_emb, embedding)").as("score"),
        col("vec_id").as("id"))
    val topk = udaf(new graft.functions.TopKByScore(k),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[graft.functions.ScoredId]())
    scored.groupBy(col("q_id"))
      .agg(topk(col("score"), col("id")).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rnk"),
        col("col.id").as("vec_id"))
  }

  // ---------------------------------------------------------------------
  // q231_hard_negatives — top-3 different-label near-misses for the
  // first 20 vectors, through the map-side-bounded aggregator. Integer
  // outputs only (ranks + ids); the oracle replays the ranking with
  // DuckDB's cosine — same contract as q36/q36b.
  // ---------------------------------------------------------------------
  def q231HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    hardNegatives(e,
      e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("label").as("q_label")),
      k = 3)
  }

  val q231HardNegativesSql: String =
    """SELECT q_id, CAST(rnk AS INT) AS rnk, vec_id FROM (
      |  SELECT q.vec_id AS q_id, n.vec_id AS vec_id,
      |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(
      |        CAST(q.embedding AS DOUBLE[]),
      |        CAST(n.embedding AS DOUBLE[])) DESC, n.vec_id ASC) AS rnk
      |  FROM (SELECT * FROM embeddings WHERE vec_id < 20) q
      |  JOIN embeddings n
      |    ON n.vec_id <> q.vec_id AND n.label <> q.label)
      |WHERE rnk <= 3""".stripMargin

  /** Spherical k-means centroids from a bounded deterministic corpus
    * sample. This is the IVF "train" phase: sample → local Lloyd
    * iterations on the driver → broadcast centroids as plan literals.
    * The sample is capped (fixed rows × 64 doubles ≈ KBs) regardless of
    * corpus size, so the collect stays O(1) at 100 TB — the standard IVF
    * build (FAISS-style): train on a sample, assign the full corpus
    * distributed. Deterministic: hash-ordered sample, farthest-point
    * init, fixed iteration count — no RNG, same centroids every run.
    */
  private[operators] def trainCentroids(e: DataFrame, nlist: Int,
      sampleSize: Int = 1024, iters: Int = 20): Array[Array[Double]] = {
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    val sample: Array[Array[Double]] = e
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .orderBy(xxhash64(col("vec_id")).asc, col("vec_id").asc)
      .limit(sampleSize)
      .select(col("emb")).collect()
      .map(r => normalize(r.getSeq[Double](0).toArray))
    // degenerate corpora fail here with a clear message instead of an
    // IndexOutOfBounds at sample(0); nlist > sample size is benign (the
    // maximin init then re-picks sample points — duplicate centroids
    // waste cells but stay correct)
    require(sample.nonEmpty,
      "cannot train IVF centroids: the embeddings corpus is empty")
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0d; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    // farthest-point (maximin) init — deterministic k-means++ stand-in
    val centroids = new Array[Array[Double]](nlist)
    centroids(0) = sample(0)
    val minSim = sample.map(dot(_, centroids(0)))
    for (c <- 1 until nlist) {
      val next = minSim.indices.minBy(minSim)
      centroids(c) = sample(next)
      var i = 0
      while (i < sample.length) {
        val d = dot(sample(i), centroids(c))
        if (d > minSim(i)) minSim(i) = d
        i += 1
      }
    }
    // Lloyd: assign to max-dot centroid, recenter on the normalized mean
    for (_ <- 0 until iters) {
      val sums = Array.fill(nlist)(new Array[Double](sample(0).length))
      val counts = new Array[Int](nlist)
      sample.foreach { v =>
        val best = (0 until nlist).maxBy(c => dot(v, centroids(c)))
        counts(best) += 1
        var i = 0
        while (i < v.length) { sums(best)(i) += v(i); i += 1 }
      }
      for (c <- 0 until nlist if counts(c) > 0)
        centroids(c) = normalize(sums(c))
    }
    centroids
  }

  // ---------------------------------------------------------------------
  // q37_ann_ivf — IVF ANN: spherical-k-means centroids trained on a
  // bounded sample, corpus assigned to its `replicas` nearest cells
  // (SPANN-style boundary multi-assignment — Chen et al., "SPANN:
  // Highly-efficient Billion-scale Approximate Nearest Neighbor Search",
  // NeurIPS 2021 — which recovers the neighbors that single-assignment
  // IVF loses across Voronoi boundaries), probe the 4 nearest cells per
  // query, exact-rerank within. Touches ~nprobe·replicas/nlist of the
  // corpus — the standard 100 TB ANN shape (cells map to partition
  // pruning). Rows-only oracle; recall vs q36 is spec-tested, including
  // a ≥0.9 floor on a clustered fixture (on the clusterless synthetic
  // corpus recall is information-theoretically ≈ the scanned fraction —
  // see NOTES.md).
  // ---------------------------------------------------------------------
  /** Cell affinity vs each centroid = dot(emb, c_i) — centroids are
    * unit-norm and the row's own norm is constant across cells, so
    * argmax = cosine. Centroids are plan literals: broadcast for free
    * inside the serialized expression tree. */
  private def cellScores(centroids: Array[Array[Double]],
      embCol: Column): Column = {
    val embD = embCol.cast("array<double>")
    array(centroids.indices.map { ci =>
      val dot = aggregate(
        zip_with(embD, typedLit(centroids(ci).toSeq), (x, p) => x * p),
        lit(0.0d), (acc, v) => acc + v)
      struct(dot.as("score"), lit(ci).as("cell"))
    }: _*)
  }

  private[operators] def bestCells(centroids: Array[Array[Double]], embCol: Column,
      n: Int): Column =
    transform(slice(reverse(array_sort(cellScores(centroids, embCol))), 1, n),
      s => s.getField("cell"))

  // --- drift evidence for the IVF-family append paths -------------------

  /** Mean top-1 ANGULAR affinity of `df`'s vectors against `centroids`
    * (best-cell cosine — dot with the unit-norm centroid over the
    * row's own norm, so a pure scale change does not mask an angular
    * drift): the one cheap aggregate that says how well a batch fits
    * the frozen centroids. Computed over the TRAINING corpus at build
    * time ([[buildIvfIndex]] stores it as `_drift_base`) and per
    * append batch ([[batchAffinity]]); a falling batch mean means the
    * centroids no longer describe the data — the retrain signal
    * [[graft.Warehouse]] acts on when
    * `VectorIndexDef.retrainDriftThreshold` is set. Zero-norm rows are
    * excluded (they have no direction to drift). */
  private[operators] def meanTopAffinity(df: DataFrame,
      centroids: Array[Array[Double]]): Double = {
    val embD = col("embedding").cast("array<double>")
    val norm = sqrt(aggregate(embD, lit(0.0d), (a, x) => a + x * x))
    val top = array_max(transform(cellScores(centroids, col("embedding")),
      s => s.getField("score")))
    val r = df.filter(norm > 0.0)
      .agg(avg(top / norm)).head()
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** The BUILD-time drift baseline as an OBSERVED metric riding the
    * caller's corpus projection instead of its own corpus pass: the
    * cells write already scores every row against every centroid for
    * [[bestCells]], so the mean top-1 affinity (the [[meanTopAffinity]]
    * statistic — zero-norm rows excluded via the null-ignoring `avg`)
    * is a sidecar aggregate of that same scan. An unconditional second
    * full pass would double every index build at any corpus size —
    * this keeps the baseline always-written at zero extra scans, so
    * [[driftBase]] stays available without a build-time flag. */
  private[operators] def observeTopAffinity(e: DataFrame,
      centroids: Array[Array[Double]])
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = new org.apache.spark.sql.Observation()
    val embD = col("embedding").cast("array<double>")
    val norm = sqrt(aggregate(embD, lit(0.0d), (a, x) => a + x * x))
    val top = array_max(transform(cellScores(centroids, col("embedding")),
      s => s.getField("score")))
    (e.observe(obs, avg(when(norm > 0.0d, top / norm)).as("aff")), obs)
  }

  /** Read back the observed baseline after the observed plan's action
    * completed (empty corpus → null avg → 0.0, matching
    * [[meanTopAffinity]]'s convention). */
  private[operators] def observedAffinity(
      obs: org.apache.spark.sql.Observation): Double =
    obs.get.getOrElse("aff", null) match {
      case d: java.lang.Double => d.doubleValue
      case _ => 0.0
    }

  private[operators] val DriftBaseFile = "_drift_base"

  private[operators] def writeDriftBase(spark: SparkSession,
      dir: String, v: Double): Unit = {
    val fs = graft.pipeline.Fs.of(dir, spark)
    val os = fs.create(
      new org.apache.hadoop.fs.Path(dir, DriftBaseFile), true)
    try os.write(v.toString.getBytes("UTF-8"))
    finally os.close()
  }

  /** The build-time mean top-1 affinity of an IVF-family index — None
    * for stores built before the drift instrument existed (the
    * maintenance loop then skips the check rather than guessing). */
  def driftBase(spark: SparkSession, indexDir: String): Option[Double] =
    graft.pipeline.PersistedStore.open(indexDir) {
      val fs = graft.pipeline.Fs.of(indexDir, spark)
      val p = new org.apache.hadoop.fs.Path(indexDir, DriftBaseFile)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try Some(new String(in.readAllBytes(), "UTF-8").trim.toDouble)
        finally in.close()
      }
    }

  /** Mean top-1 affinity of an append batch under the index's FROZEN
    * centroids — one aggregate over the batch (the centroids are
    * nlist-bounded plan literals). */
  def batchAffinity(spark: SparkSession, indexDir: String,
      batch: DataFrame): Double =
    meanTopAffinity(batch, VectorIndex.readCentroids(spark, indexDir))

  /** One-shot IVF (train + assign + probe in a single plan) — the spec
    * harness's shape for small fixtures. Production uses the build/probe
    * split below ([[ensureIvfIndex]] / [[probeIvfIndex]]) so the corpus
    * is assigned once, not per query batch. */
  def annIvf(e: DataFrame, nQueries: Int = 20, k: Int = 5, nlist: Int = 16,
      nprobe: Int = 4, replicas: Int = 2): DataFrame = {
    val centroids = trainCentroids(e, nlist)
    val corpus = e
      .select(col("vec_id"), col("embedding"),
        explode(bestCells(centroids, col("embedding"), replicas)).as("cell"))
    // the generator must reference the real input column, not the q_emb
    // alias defined in the same select: a lateral-column-alias reference
    // inside explode() fails analysis on Spark 4.1
    // ("Resolved plan should not contain any LateralColumnAliasReference")
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        explode(bestCells(centroids, col("embedding"), nprobe)).as("cell"))
    rerank(corpus.join(broadcast(queries), Seq("cell")), k)
  }

  /** Rank 1..n over an ALREADY-bounded result (the ≤k-row output of
    * `orderBy(...).limit(k)`) without a global window: coalesce to one
    * partition, re-sort locally so the rank is defined by the ordering
    * (not physical arrival), and number rows with
    * `monotonically_increasing_id` — on partition 0 the ids are exactly
    * 0..n−1 in row order, and the expression is nondeterministic so the
    * optimizer cannot reorder it across the sort. Semantically identical
    * to `row_number().over(Window.orderBy(order))` on this bounded
    * input, but plans no WindowExec at all — a `Window.partitionBy(lit)`
    * spelling does not survive the optimizer (foldable partition keys
    * are eliminated, reintroducing the no-partition WindowExec and its
    * per-run warning in every bench tail). */
  private[operators] def rankBounded(df: DataFrame, rankCol: String,
      order: Seq[Column]): DataFrame =
    df.coalesce(1).sortWithinPartitions(order: _*)
      .withColumn(rankCol, monotonically_increasing_id() + 1)

  /** Shared exact rerank: cosine within the probed candidate set, bounded
    * top-k per query. */
  private def rerank(cand0: DataFrame, k: Int): DataFrame = {
    val cand = cand0
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        expr("cosine_sim(q_emb, embedding)").as("sim"))
      .distinct()
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    cand.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("vec_id"))
  }

  // ---------------------------------------------------------------------
  // Persisted IVF index — the production build/probe split. Build runs
  // once per corpus version (train on a bounded sample, assign the whole
  // corpus distributed, write cell-partitioned parquet); probes read only
  // their probed cells. The lifecycle and layout are [[VectorIndex]]'s
  // (routed, Raw codec: the cells hold the original embeddings).
  // ---------------------------------------------------------------------

  /** Order-independent corpus fingerprint `n|h` over (vec_id,
    * embedding): one distributed pass, O(1) driver result — the rebuild
    * trigger at any corpus size. */
  def corpusFingerprint(e: DataFrame): String =
    graft.pipeline.PersistedStore.fingerprint(e, "vec_id", "embedding")

  def buildIvfIndex(spark: SparkSession, e: DataFrame, indexDir: String,
      nlist: Int = 16, replicas: Int = 2,
      ledger: Seq[(String, String)] = Nil): Unit =
    VectorIndex.build(spark, ivf(nlist, replicas), e, indexDir, ledger)

  /** Build-if-stale: rebuilds when the corpus content or index parameters
    * changed since the persisted state. Returns true if a rebuild ran. */
  def ensureIvfIndex(spark: SparkSession, e: DataFrame, indexDir: String,
      nlist: Int = 16, replicas: Int = 2): Boolean =
    VectorIndex.ensure(spark, ivf(nlist, replicas), e, indexDir)

  /** Append a batch of vectors under the index's FROZEN centroids into
    * only the affected `cells/cell=N/` dirs ([[VectorIndex.append]]). */
  def appendToIvfIndex(spark: SparkSession, batch: DataFrame,
      indexDir: String): Unit = VectorIndex.append(spark, batch, indexDir)

  private def ivf(nlist: Int, replicas: Int): VectorIndex.Spec =
    VectorIndex.Spec(VectorIndex.Raw,
      Some(VectorIndex.Routing(nlist, replicas)))

  /** Probe a persisted index: assign each query to its `nprobe` best
    * cells (centroids collected — nlist × dim doubles, KBs), join the
    * cell-partitioned corpus on the partition column, exact cosine
    * rerank within. `queries` needs (q_id, q_emb).
    *
    * Pruning is STATIC, not left to dynamic-partition-pruning: the
    * distinct probed cell ids — ≤ nlist values however many queries
    * there are — are collected and pushed as a partition IN-filter, so
    * the scan's selected partitions are fixed at planning time (DPP's
    * broadcast-reuse preconditions can silently degrade to a full scan;
    * a literal partition filter cannot). `PlanShapeSpec` asserts the
    * scan touches exactly the probed directories. */
  def probeIvfIndex(spark: SparkSession, indexDir: String,
      queries: DataFrame, k: Int = 5, nprobe: Int = 4): DataFrame = {
    VectorFunctions.register(spark) // self-sufficient: rerank needs cosine_sim
    val centroids = VectorIndex.readCentroids(spark, indexDir)
    // no cache: the hot probe path would pin one dead cache entry per
    // call for the session lifetime (nothing can unpersist after the
    // returned DataFrame executes). The exploded assignment is recomputed
    // once by the cell-collect and once by the join — per-row centroid
    // math over the (bounded) probe batch, cheaper than a storage leak.
    val q = queries.select(col("q_id"), col("q_emb"),
      explode(bestCells(centroids, col("q_emb"), nprobe)).as("cell"))
    val probed = q.select(col("cell")).distinct().collect().map(_.get(0))
    val cells = spark.read.parquet(s"$indexDir/cells")
      .filter(col("cell").isin(probed: _*))
    rerank(cells.join(broadcast(q), Seq("cell")), k)
  }

  /** Cell-file compaction for the append path ([[VectorIndex.compact]]). */
  def compactIvfIndex(spark: SparkSession, indexDir: String,
      targetBytes: Long = 128L * 1024 * 1024, maxFiles: Int = 4)
      : graft.pipeline.Maintain.CompactSummary =
    VectorIndex.compact(spark, indexDir, targetBytes, maxFiles)

  /** IVF through the persisted index: ensure-built, then probe. */
  def annIvfIndexed(spark: SparkSession, e: DataFrame, indexDir: String,
      nQueries: Int = 20, k: Int = 5, nlist: Int = 16, nprobe: Int = 4,
      replicas: Int = 2): DataFrame = {
    ensureIvfIndex(spark, e, indexDir, nlist, replicas)
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    probeIvfIndex(spark, indexDir, queries, k, nprobe)
  }

  def q37AnnIvf(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(s)
    annIvfIndexed(s, t(s, dir, "embeddings"),
      VectorIndex.gateDir("ivf_n16_r2", dir))
  }

  // ---------------------------------------------------------------------
  // q37b_ann_exhaustive — DERIVED ORACLE for the IVF machinery: with
  // nprobe = nlist (probe every cell) the candidate set is complete, so
  // the whole pipeline — centroid training, cell assignment, probing,
  // cosine rerank, rank ties — must reproduce the exact brute-force
  // answer and is checked against q36's DuckDB oracle. The recall knob
  // (nprobe < nlist) is then the only approximation, and it is
  // spec-tested separately.
  // ---------------------------------------------------------------------
  def q37bAnnExhaustive(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(s)
    // nprobe is tied to nlist explicitly: probing every cell is what makes
    // this exhaustive, independent of the default cell count. Runs through
    // the persisted index too, so build + probe + rerank are all inside
    // the oracle-checked path.
    val cells = 16
    annIvfIndexed(s, t(s, dir, "embeddings"),
      VectorIndex.gateDir(s"ivf_n${cells}_r1", dir),
      nlist = cells, nprobe = cells, replicas = 1)
  }

  // ---------------------------------------------------------------------
  // q61_hybrid_search — text filter + vector rank, the standard RAG
  // retrieval shape: restrict documents by a token predicate, join their
  // embeddings (doc_id ≍ vec_id), rank by cosine to a query vector
  // (vec_id 0), return integer-only (rank, doc_id). Filter prunes before
  // any vector math; the query embedding is broadcast.
  // ---------------------------------------------------------------------
  def q61HybridSearch(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(s)
    val docs = t(s, dir, "documents")
      .filter(col("text").contains("spark"))
      .select(col("doc_id"))
    val emb = t(s, dir, "embeddings")
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    val scored = docs
      .join(emb, col("doc_id") === col("vec_id"))
      .crossJoin(broadcast(qv))
      .select(col("doc_id"), expr("cosine_sim(q_emb, embedding)").as("sim"))
    // top-10 via orderBy+limit → TakeOrderedAndProject (per-partition heap
    // + driver merge); the rank then derives from the bounded 10-row
    // result with no window at all (rankBounded)
    val top = scored.orderBy(col("sim").desc, col("doc_id").asc).limit(10)
    rankBounded(top, "rnk", Seq(col("sim").desc, col("doc_id").asc))
      .select(col("rnk").cast("int").as("rnk"), col("doc_id"))
  }

  val q61HybridSearchSql: String =
    """SELECT CAST(rnk AS INT) AS rnk, doc_id FROM (
      |  SELECT d.doc_id,
      |    ROW_NUMBER() OVER (ORDER BY list_cosine_similarity(
      |        CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
      |      DESC, d.doc_id ASC) AS rnk
      |  FROM documents d
      |  JOIN embeddings e ON d.doc_id = e.vec_id
      |  CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
      |  WHERE d.text LIKE '%spark%')
      |WHERE rnk <= 10""".stripMargin

  // ---------------------------------------------------------------------
  // q90_rrf_fusion — reciprocal-rank fusion of a lexical and a vector
  // ranking (Cormack & Clarke SIGIR'09), the standard way hybrid
  // retrieval combines incomparable scores: fuse on integer RANKS, not
  // raw scores, with rrf = Σ 1/(60 + rank_i). Each signal contributes 0
  // for documents it didn't rank (full-outer join + coalesce).
  //
  // Cross-engine exactness: the fused score is built per row from two
  // INTEGER ranks by two correctly-rounded IEEE divisions and one add —
  // bit-identical in any engine — so the gate hashes the double itself,
  // no tolerance verdict needed. (Raw-score fusion would instead inherit
  // the engines' float-aggregation ambiguity — rank fusion is both the
  // better IR practice and the exactness fix.)
  //
  // Scale shape: each ranking is TakeOrderedAndProject'd to its top-K
  // BEFORE the window (q61 pattern — never a global sort), so the fusion
  // join touches 2K rows regardless of corpus size.
  // ---------------------------------------------------------------------

  /** Fuse two (doc_id, rnk) rankings: rrf = Σ 1/(k0 + rnk_i), descending,
    * ties broken by doc_id. */
  def rrfFuse(a: DataFrame, b: DataFrame, k0: Int = 60): DataFrame = {
    val joined = a.select(col("doc_id"), col("rnk").as("rnk_a"))
      .join(b.select(col("doc_id"), col("rnk").as("rnk_b")),
        Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (coalesce(lit(1.0d) / (lit(k0) + col("rnk_a")), lit(0.0d)) +
          coalesce(lit(1.0d) / (lit(k0) + col("rnk_b")), lit(0.0d)))
          .as("rrf"))
    val top = joined.orderBy(col("rrf").desc, col("doc_id").asc).limit(20)
    rankBounded(top, "fused_rank",
        Seq(col("rrf").desc, col("doc_id").asc))
      .select(col("fused_rank").cast("long").as("fused_rank"),
        col("doc_id"), col("rrf"))
  }

  def q90RrfFusion(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(s)
    val d = t(s, dir, "documents")
    val emb = t(s, dir, "embeddings")
    // lexical signal: exact term-frequency of "spark", integer-ranked
    val lexScored = d
      .select(col("doc_id"),
        size(filter(split(col("text"), " "), w => w === "spark"))
          .cast("long").as("tf"))
      .filter(col("tf") > 0)
    val lexTop = lexScored
      .orderBy(col("tf").desc, col("doc_id").asc).limit(50)
    val lex = rankBounded(lexTop, "rnk",
      Seq(col("tf").desc, col("doc_id").asc))
    // vector signal: cosine to query vec 0 (rank parity per q61)
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    val vecScored = emb.crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        expr("cosine_sim(q_emb, embedding)").as("sim"))
    val vecTop = vecScored
      .orderBy(col("sim").desc, col("doc_id").asc).limit(50)
    val vec = rankBounded(vecTop, "rnk",
      Seq(col("sim").desc, col("doc_id").asc))
    rrfFuse(lex.select(col("doc_id"), col("rnk")),
      vec.select(col("doc_id"), col("rnk")))
  }

  val q90RrfFusionSql: String =
    """WITH lex AS (
      |  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, doc_id ASC)
      |    AS BIGINT) AS rnk
      |  FROM (SELECT doc_id,
      |          len(list_filter(string_split(text, ' '), w -> w = 'spark'))
      |            AS tf
      |        FROM documents)
      |  WHERE tf > 0
      |  ORDER BY tf DESC, doc_id ASC LIMIT 50),
      |vec AS (
      |  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id ASC)
      |    AS BIGINT) AS rnk
      |  FROM (SELECT e.vec_id AS doc_id, list_cosine_similarity(
      |          CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
      |          AS sim
      |        FROM embeddings e
      |        CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0)
      |          q)
      |  ORDER BY sim DESC, doc_id ASC LIMIT 50),
      |fused AS (
      |  SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
      |    COALESCE(1.0::DOUBLE / (60 + lex.rnk), 0.0::DOUBLE) +
      |    COALESCE(1.0::DOUBLE / (60 + vec.rnk), 0.0::DOUBLE) AS rrf
      |  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id ASC)
      |    AS BIGINT) AS fused_rank, doc_id, rrf
      |FROM fused
      |ORDER BY rrf DESC, doc_id ASC LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // q92_label_centroid — per-label embedding centroid with BIT-REPRODUCIBLE
  // float aggregation. Plain sum(double) across rows is partition-order-
  // dependent (float addition is non-associative), so the same corpus can
  // produce different centroids run to run — poison for cached/downstream
  // artifacts keyed on content. Fix: a two-level ORDERED fold — within
  // each vec_id bucket, values fold in vec_id order; bucket partials fold
  // in bucket order. Every fold runs left-to-right over an explicitly
  // sorted list, so the result is a pure function of the data, identical
  // on any partitioning, any cluster size — and identical in DuckDB
  // (list_reduce over the same ordered lists), which is what lets the
  // gate hash the centroid doubles exactly with no tolerance verdict.
  //
  // Scale: level-1 lists are ≤ `bucket` elements by construction; level-2
  // lists are one partial per OCCUPIED bucket (max_vec_id/bucket) — pick
  // bucket ≈ √n to balance, or add a third level for extreme ids; both
  // groupBys are ordinary hash shuffles on (label, dim[, bkt]).
  // ---------------------------------------------------------------------
  def centroidByLabel(emb: DataFrame, bucket: Long = 1024L): DataFrame = {
    val vals = emb
      .select(col("label"), col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("label"), col("vec_id"), col("dim").cast("long").as("dim"),
        col("v").cast("double").as("v"))
    val lvl1 = vals
      .withColumn("bkt", expr(s"vec_id div $bucket"))
      .groupBy(col("label"), col("dim"), col("bkt"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("v"))))
        .as("xs"), count(lit(1)).as("n"))
      .select(col("label"), col("dim"), col("bkt"), col("n"),
        aggregate(col("xs"), lit(0.0d), (a, x) => a + x.getField("v"))
          .as("partial"))
    lvl1.groupBy(col("label"), col("dim"))
      .agg(sort_array(collect_list(struct(col("bkt"), col("partial"))))
        .as("ps"), sum(col("n")).as("n"))
      .select(col("label"), col("dim"),
        (aggregate(col("ps"), lit(0.0d),
          (a, x) => a + x.getField("partial")) / col("n")).as("centroid"))
  }

  def q92LabelCentroid(s: SparkSession, dir: String): DataFrame =
    centroidByLabel(t(s, dir, "embeddings"))

  val q92LabelCentroidSql: String =
    """WITH vals AS (
      |  SELECT label, vec_id, CAST(i - 1 AS BIGINT) AS dim, e[i] AS v
      |  FROM (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS e
      |        FROM embeddings),
      |       UNNEST(range(1, len(e) + 1)) AS g(i)),
      |l1 AS (
      |  SELECT label, dim, vec_id // 1024 AS bkt, COUNT(*) AS n,
      |    list_reduce(list_prepend(0.0::DOUBLE, list(v ORDER BY vec_id)),
      |      (a, b) -> a + b) AS partial
      |  FROM vals GROUP BY label, dim, bkt)
      |SELECT label, dim,
      |  list_reduce(list_prepend(0.0::DOUBLE, list(partial ORDER BY bkt)),
      |    (a, b) -> a + b) / SUM(n) AS centroid
      |FROM l1 GROUP BY label, dim""".stripMargin

  // ---------------------------------------------------------------------
  // q39_embedding_stats — vector-column aggregation: per-label count and
  // exact-decimal mean of the L2 norm (higher-order fold over the array,
  // no UDF).
  // ---------------------------------------------------------------------
  def q39EmbeddingStats(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    e.withColumn("norm",
        sqrt(aggregate(col("embedding"), lit(0.0d),
          (acc, x) => acc + x.cast("double") * x.cast("double"))))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sumDec(col("norm")).as("sum_norm"))
  }

  val q39EmbeddingStatsSql: String =
    """SELECT label, COUNT(*) AS n_vecs,
      |  CAST(SUM(CAST(norm AS DECIMAL(30,4))) AS DOUBLE) AS sum_norm
      |FROM (
      |  SELECT label,
      |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
      |         x -> x * x))) AS norm
      |  FROM embeddings)
      |GROUP BY label""".stripMargin

  // ---------------------------------------------------------------------
  // q81_vector_resize — the embedding analog of media resize:
  // dimensionality truncation to the leading 16 dims (the Matryoshka/
  // MRL serving pattern — cheap ANN over a prefix slice, full-dim
  // re-rank later) followed by L2 re-normalization. Emitted per vector:
  // the slice's norm and the normalized-component checksum. Both engines
  // compute the per-row fold in element order (the q36/q39-established
  // parity), and sqrt/division are correctly-rounded IEEE ops over
  // identical inputs — so the floats hash-match without rounding tricks.
  // Map-only: no shuffle at all; the slice never copies the tail dims
  // after column pruning.
  // ---------------------------------------------------------------------
  def q81VectorResize(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val sliced = slice(col("embedding"), 1, 16)
    val ss = aggregate(sliced, lit(0.0d),
      (a, x) => a + x.cast("double") * x.cast("double"))
    val sm = aggregate(sliced, lit(0.0d), (a, x) => a + x.cast("double"))
    e.select(col("vec_id"), size(sliced).as("n_dims"),
      sqrt(ss).as("norm"),
      when(ss > 0, sm / sqrt(ss)).otherwise(lit(0.0d)).as("unit_checksum"))
  }

  val q81VectorResizeSql: String =
    """SELECT vec_id, CAST(len(s) AS INT) AS n_dims,
      |  sqrt(list_sum(list_transform(s, x -> x * x))) AS norm,
      |  CASE WHEN list_sum(list_transform(s, x -> x * x)) > 0
      |       THEN list_sum(s) / sqrt(list_sum(list_transform(s, x -> x * x)))
      |       ELSE 0.0 END AS unit_checksum
      |FROM (SELECT vec_id, CAST(embedding[1:16] AS DOUBLE[]) AS s
      |      FROM embeddings)""".stripMargin

  // ---------------------------------------------------------------------
  // q106_semdedup — SemDeDup (Abbas et al., "SemDeDup: Data-efficient
  // learning at web-scale through semantic deduplication", arXiv:
  // 2303.09540): spherical k-means partitions the corpus into cells and
  // pairwise cosine runs ONLY within a cell; a vector is removed when an
  // earlier (lower vec_id) cell-mate sits above the threshold — the
  // paper's keep-one-per-semantic-group policy with a deterministic
  // representative. The third member of the embedding-dedup family:
  // q35's RH-LSH surfaces high-sim pairs probabilistically; this one is
  // exhaustive WITHIN a semantic cell and blind across cells — exactly
  // the trade the paper makes for web scale.
  //
  // Scale design: centroids train on a bounded sample (O(1) driver
  // work, plan literals — no shuffle to assign); the only shuffle is
  // the self-join on `cell`, and the paper's own prescription bounds it
  // — nlist grows ∝ corpus so E[cell] stays fixed, and a hot cell is a
  // skew-join problem AQE splits on the quadratic side. Nothing is
  // ever all-pairs across cells.
  // ---------------------------------------------------------------------
  def semDedup(e: DataFrame, nlist: Int, tau: Double): DataFrame = {
    val centroids = trainCentroids(e, nlist)
    val assigned = e.select(col("vec_id"), col("embedding"),
      bestCells(centroids, col("embedding"), 1).getItem(0).as("cell"))
    val lhs = assigned.select(col("cell"), col("vec_id").as("a"),
      col("embedding").as("ea"))
    val rhs = assigned.select(col("cell"), col("vec_id").as("b"),
      col("embedding").as("eb"))
    lhs.join(rhs, Seq("cell"))
      .filter(col("a") < col("b"))
      .filter(expr("cosine_sim(ea, eb)") > tau)
      .select(col("b").as("vec_id"))
      .distinct()
  }

  def q106SemDedup(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(s)
    semDedup(t(s, dir, "embeddings"), nlist = 8, tau = 0.3)
  }

  // ---------------------------------------------------------------------
  // q106b_semdedup_planted — DERIVED ORACLE for the SemDeDup machinery,
  // by the q35b construction: a ×2-scaled copy of every 20th vector.
  // Scaling by 2 only shifts float exponents, so it commutes with every
  // rounding in `cellScores`' dot folds (fl(2a+2b) = 2·fl(a+b)) and
  // scales all nlist cell affinities uniformly — each copy lands in its
  // original's cell STRUCTURALLY, cell-membership ULP cannot flip it.
  // cos(v, 2v) = 1 > τ exactly, while τ = 0.9 clears every natural pair
  // (corpus max ≈ 0.6, and cos(2v, u) = cos(v, u) keeps planted-vs-
  // other pairs in the natural range). The removed set is therefore
  // predictable by DuckDB with no vector math at all; any regression in
  // centroid training, cell assignment, the within-cell join, or the
  // keep-first threshold filter loses planted ids and hash-mismatches.
  // ---------------------------------------------------------------------
  def q106bSemDedupPlanted(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(s)
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val planted = e.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + Dedup.PlantOffset).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    semDedup(e.unionByName(planted), nlist = 8, tau = 0.9)
  }

  val q106bSemDedupPlantedSql: String =
    """SELECT vec_id + 10000000 AS vec_id
      |FROM embeddings WHERE vec_id % 20 = 0""".stripMargin

  // ---------------------------------------------------------------------
  // Incremental SemDeDup — the probe side of the family's standing
  // build/append/probe discipline (q70 for MinHash, ensureIvfIndex/
  // probeIvfIndex for ANN): dedup an incoming batch against a persisted
  // IVF index WITHOUT re-clustering or re-reading the corpus. At 100 TB
  // nobody re-runs k-means to admit a daily batch: the corpus sits
  // cell-partitioned on disk; the batch is assigned under the index's
  // frozen centroids and joins only its own cells' partitions.
  // ---------------------------------------------------------------------

  /** Removed vec_ids of `batch`, deduped against the index AND itself.
    * Corpus precedence: a batch vector is removed when its assigned
    * cell holds any indexed vector above `tau`, or an earlier (lower
    * vec_id) batch-mate assigned to the same cell. Cost: O(batch)
    * assignment + a partition-pruned read of only the probed cells
    * (static literal IN-filter, the probeIvfIndex discipline). The
    * index's boundary replicas work FOR recall here: a corpus vector
    * sits in its `replicas` nearest cells, so a batch arrival on the
    * far side of a Voronoi edge still meets it. Batch vec_ids are
    * assumed disjoint from the corpus (sync-layer contract, as for
    * [[appendToIvfIndex]]). */
  /** Broadcast budget for the probe-side frames of the incremental
    * SemDeDup scans ([[semDedupProbe]]/[[semDedupProbeSq]]): a frame
    * whose estimated bytes fit under it broadcasts (the daily-admission
    * shape — tiny batch, minimal shuffles); a larger one — a
    * backfill-sized batch, or an adversarial hot cell exploding the
    * candidate set — takes the shuffle join instead of pressuring the
    * driver with an unbounded `broadcast()` hint (the
    * [[graft.Warehouse.Config.sweepLiteralMaxBytes]] discipline). */
  val ProbeBroadcastMaxBytes: Long = 64L * 1024 * 1024

  /** `df` hinted for broadcast only when its estimated size fits the
    * probe budget; the estimate is rows × bytesPerRow from a count the
    * caller already has (checkpointed or counted frames — no extra
    * scan). */
  private def adaptiveBroadcast(df: DataFrame, rows: Long,
      bytesPerRow: Long, maxBytes: Long): DataFrame =
    if (rows * bytesPerRow <= maxBytes) broadcast(df) else df

  def semDedupProbe(spark: SparkSession, batch: DataFrame,
      indexDir: String, tau: Double,
      broadcastMaxBytes: Long = ProbeBroadcastMaxBytes): DataFrame = {
    val centroids = VectorIndex.readCentroids(spark, indexDir)
    val dim = if (centroids.nonEmpty) centroids(0).length else 0
    val b = batch.select(col("vec_id"), col("embedding"),
      bestCells(centroids, col("embedding"), 1).getItem(0).as("cell"))
      // consumed three times (probed-cell collect, corpus join side,
      // batch-internal join side) — materialize the nlist×dim scoring
      // once, the appendEdges/appendToMinhashIndex pattern
      .localCheckpoint()
    val bRows = b.count()
    // (cell, id, float embedding) ≈ 4 B/component + row overhead
    def adaptB(df: DataFrame) = adaptiveBroadcast(df, bRows,
      dim * 4L + 64L, broadcastMaxBytes)
    val probed = b.select(col("cell")).distinct().collect().map(_.get(0))
    val bq = b.select(col("cell"), col("vec_id").as("b"),
      col("embedding").as("eb"))
    val cells = spark.read.parquet(s"$indexDir/cells")
      .filter(col("cell").isin(probed.toSeq: _*))
      .select(col("cell"), col("embedding").as("ea"))
    val vsCorpus = cells.join(adaptB(bq), Seq("cell"))
      .filter(expr("cosine_sim(ea, eb)") > tau)
      .select(col("b").as("vec_id"))
    val lhs = b.select(col("cell"), col("vec_id").as("a"),
      col("embedding").as("ea"))
    val vsBatch = lhs.join(bq, Seq("cell"))
      .filter(col("a") < col("b"))
      .filter(expr("cosine_sim(ea, eb)") > tau)
      .select(col("b").as("vec_id"))
    vsCorpus.unionByName(vsBatch).distinct()
  }

  /** [[semDedupProbe]] against an IVF-SQ8 index — the incremental-dedup
    * scan is the hottest RECURRING read of a daily admission pipeline,
    * and the engine already stores the corpus at 1 byte/dimension: the
    * candidate pass scans CODES-ONLY cell files (the same 4×
    * working-set cut every SQ8 ANN probe gets), decoding inside the
    * codegen cosine, at the LOOSENED threshold `tau - candidateMargin`;
    * surviving (corpus, batch) pairs then re-check EXACTLY on original
    * embeddings from `corpus` at `tau`. Quantization can therefore only
    * cost candidate recall INSIDE the margin (a true pair whose
    * quantized cosine sits within `candidateMargin` of `tau` still
    * surfaces; a false candidate dies at the exact check) — verdict
    * precision is never quantized. The batch-internal half runs full
    * precision (the batch carries its own embeddings). Precedence,
    * replica-recall, and disjoint-id semantics are [[semDedupProbe]]'s. */
  /** The SQ8 candidate stage: (checkpointed assigned batch, batch row
    * count, dimension, candidate pair frame PRE-checkpoint). Package-
    * private so plan tests can assert the codes-only read schema on
    * exactly the plan [[semDedupProbeSq]] materializes. */
  private[operators] def semDedupCandidatesSq(spark: SparkSession,
      batch: DataFrame, indexDir: String, tau: Double,
      candidateMargin: Double, broadcastMaxBytes: Long)
      : (DataFrame, Long, Int, DataFrame) = {
    VectorFunctions.register(spark)
    val centroids = VectorIndex.readCentroids(spark, indexDir)
    val (mns, scales) = Quantize.readSqParams(spark, indexDir)
    val dim = mns.length
    val b = batch.select(col("vec_id"), col("embedding"),
      bestCells(centroids, col("embedding"), 1).getItem(0).as("cell"))
      .localCheckpoint()
    val bRows = b.count()
    // qb is array<double>: 8 B/component + row overhead
    def adaptB(df: DataFrame) = adaptiveBroadcast(df, bRows,
      dim * 8L + 64L, broadcastMaxBytes)
    val probed = b.select(col("cell")).distinct().collect().map(_.get(0))
    val bq = b.select(col("cell"), col("vec_id").as("b"),
      transform(col("embedding"), x => x.cast("double")).as("qb"))
    // codes-only candidate scan: the probed cell files hold
    // (vec_id, codes) — no embedding column exists in them at all
    val r0 = Quantize.sqDecode(col("codes"), mns, scales)
    val decoded = spark.read.parquet(s"$indexDir/cells")
      .filter(col("cell").isin(probed.toSeq: _*))
      .select(col("cell"), col("vec_id").as("a"), r0.as("__r"),
        aggregate(r0, lit(0.0d), (acc, x) => acc + x * x).as("__nn"))
    val qn = aggregate(col("qb"), lit(0.0d), (acc, x) => acc + x * x)
    val dot = aggregate(zip_with(col("qb"), col("__r"), (x, y) => x * y),
      lit(0.0d), (acc, v) => acc + v)
    // zero-norm rows divide to NaN, which Spark orders above every
    // double — they pass as candidates and die at the exact check
    // (cosine_sim's zero-vector guard), never silently vanish
    val candidates = decoded.join(adaptB(bq), Seq("cell"))
      .filter(dot / (sqrt(col("__nn")) * sqrt(qn)) >
        tau - candidateMargin)
      .select(col("a"), col("b")).distinct()
    (b, bRows, dim, candidates)
  }

  def semDedupProbeSq(spark: SparkSession, batch: DataFrame,
      indexDir: String, corpus: DataFrame, tau: Double,
      candidateMargin: Double = 0.05,
      broadcastMaxBytes: Long = ProbeBroadcastMaxBytes): DataFrame = {
    val (b, bRows, dim, candidates0) = semDedupCandidatesSq(spark,
      batch, indexDir, tau, candidateMargin, broadcastMaxBytes)
    def adaptB(df: DataFrame) = adaptiveBroadcast(df, bRows,
      dim * 8L + 64L, broadcastMaxBytes)
    // consumed twice (the size count + the verdict join) — the
    // checkpoint also pins the codes scan to ONE pass
    val candidates = candidates0.localCheckpoint()
    // exact verdict on the ORIGINAL embeddings (the index stores
    // none). The candidate pair set is probe-bounded in the daily
    // shape, but an adversarial hot batch can exceed any driver
    // budget — SIZE the broadcast decision instead of forcing it:
    // under the budget the pairs broadcast; over it, the corpus
    // shuffles on `a` (the plan built for that volume).
    val candRows = candidates.count()
    val adaptC = adaptiveBroadcast(candidates, candRows, 48L,
      broadcastMaxBytes)
    val vsCorpus = corpus
      .select(col("vec_id").as("a"), col("embedding").as("ea"))
      .join(adaptC, Seq("a"))
      .join(adaptB(b.select(col("vec_id").as("b"),
        col("embedding").as("eb"))), Seq("b"))
      .filter(expr("cosine_sim(ea, eb)") > tau)
      .select(col("b").as("vec_id"))
    val lhs = b.select(col("cell"), col("vec_id").as("a"),
      col("embedding").as("ea"))
    val rhs = b.select(col("cell"), col("vec_id").as("b"),
      col("embedding").as("eb"))
    val vsBatch = lhs.join(rhs, Seq("cell"))
      .filter(col("a") < col("b"))
      .filter(expr("cosine_sim(ea, eb)") > tau)
      .select(col("b").as("vec_id"))
    vsCorpus.unionByName(vsBatch).distinct()
  }

  // ---------------------------------------------------------------------
  // q110_semdedup_incremental — the incremental probe under the q106b
  // planted construction, with the index assembled through BOTH write
  // paths (build on the even half, append the odd half — the q70
  // discipline), so centroid persistence, the frozen-centroid append,
  // partition-pruned probing, and corpus-precedence removal are all
  // inside the oracle-checked path. Every planted ×2 copy must meet its
  // original: the original sits in its best cell (replicas ≥ 1) and the
  // copy's single assignment IS that cell (the exponent-shift
  // argument), so removal is structural; copies of distinct originals
  // stay in the natural ≤0.6 range and never remove each other.
  // The index is SQ8-BACKED (round 13): the candidate pass reads
  // 1-byte/dim codes, the verdict re-checks exactly on the original
  // embeddings — so the gate pins the production shape of the daily
  // admission scan (codes-only candidates + exact verify), not just
  // the float fallback. The planted construction's margins make the
  // candidate loosening invisible: copy-vs-original true cosine is
  // 1.0, natural pairs sit ≤ 0.6, both far from tau = 0.9 ± margin.
  // ---------------------------------------------------------------------
  def q110SemDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(s)
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val idx = VectorIndex.gateDir("semsq8_n8_r2", dir)
    if (!new java.io.File(s"$idx.complete").exists()) {
      Quantize.buildIvfSqIndex(s, e.filter(col("vec_id") % 2 === 0), idx,
        nlist = 8, replicas = 2)
      Quantize.appendToIvfSqIndex(s, e.filter(col("vec_id") % 2 === 1), idx)
      new java.io.File(s"$idx.complete").createNewFile()
    }
    val batch = e.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + Dedup.PlantOffset).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    semDedupProbeSq(s, batch, idx, e, tau = 0.9)
  }

  val q110SemDedupIncrementalSql: String =
    """SELECT vec_id + 10000000 AS vec_id
      |FROM embeddings WHERE vec_id % 20 = 0""".stripMargin

  /** SEMANTIC benchmark decontamination — the embedding-space
    * complement of q62's exact-ngram and q100's span-level checks: a
    * training example whose embedding sits within cosine `tau` of ANY
    * benchmark item is contaminated even when no n-gram survives the
    * paraphrase. Exact by construction: the benchmark side is the
    * SMALL side (a benchmark is thousands of items, the corpus is the
    * 100 TB one), so it broadcasts and every corpus row takes one
    * codegen `cosine_sim` pass per benchmark row — a map-only scan of
    * the corpus, no shuffle until the per-row max aggregate on the
    * corpus key. For benchmark sets too large to broadcast, probe the
    * IVF index instead ([[semDedupProbe]] is exactly that shape).
    * Returns per-corpus-row `max_sim` and the `contaminated` verdict. */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, embCol: String, tau: Double): DataFrame = {
    val b = broadcast(benchmark
      .select(col(embCol).as("__b_emb"), col(idCol).as("__b_id")))
    corpus.select(col(idCol), col(embCol))
      .crossJoin(b)
      .filter(col(idCol) =!= col("__b_id"))
      .groupBy(col(idCol))
      .agg(max(expr(s"cosine_sim($embCol, __b_emb)")).as("max_sim"))
      .select(col(idCol), round(col("max_sim"), 4).as("max_sim"),
        (col("max_sim") >= tau).as("contaminated"))
  }

  // ---------------------------------------------------------------------
  // q178_semantic_decontam — benchmark = every 25th embedding; per-label
  // contamination tally over the rest at tau = 0.8 plus the decimal-
  // exact mean of rounded per-row max sims. The oracle replays the
  // identical double-accumulated elementwise fold (dot / sqrt(nx·ny) —
  // the cosine_sim shape, NOT DuckDB's list_cosine_similarity, whose
  // norm arrangement differs in ulp). max is order-independent;
  // per-row rounding to 4dp (both the operator's max_sim and the
  // oracle's) puts both engines on the same grid before the decimal
  // mean.
  // ---------------------------------------------------------------------
  def q178SemanticDecontam(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(s)
    val e = t(s, dir, "embeddings")
    val bench = e.filter(col("vec_id") % 25 === 0)
    val corpus = e.filter(col("vec_id") % 25 =!= 0)
    semanticDecontaminate(corpus, bench, "vec_id", "embedding", tau = 0.8)
      .join(e.select(col("vec_id"), col("label")), "vec_id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(col("contaminated").cast("long")).as("n_contaminated"),
        round(sumDec(col("max_sim")) / count(lit(1)).cast("double"), 6)
          .as("mean_max_sim"))
  }

  val q178SemanticDecontamSql: String =
    """WITH pairs AS (
      |  SELECT c.vec_id, c.label,
      |    list_reduce(list_prepend(0.0::DOUBLE,
      |      [CAST(c.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
      |       FOR i IN range(1, len(c.embedding) + 1)]),
      |      (a, x) -> a + x)
      |    / sqrt(
      |      list_reduce(list_prepend(0.0::DOUBLE,
      |        [CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
      |         FOR i IN range(1, len(c.embedding) + 1)]),
      |        (a, x) -> a + x)
      |      * list_reduce(list_prepend(0.0::DOUBLE,
      |        [CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
      |         FOR i IN range(1, len(b.embedding) + 1)]),
      |        (a, x) -> a + x)) AS sim
      |  FROM embeddings c
      |  JOIN embeddings b ON b.vec_id % 25 = 0 AND c.vec_id <> b.vec_id
      |  WHERE c.vec_id % 25 <> 0),
      |per_row AS (
      |  SELECT vec_id, label, ROUND(MAX(sim), 4) AS max_sim,
      |    MAX(sim) >= 0.8 AS contaminated
      |  FROM pairs GROUP BY vec_id, label)
      |SELECT label, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_contaminated,
      |  ROUND(CAST(SUM(CAST(max_sim AS DECIMAL(30,4))) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE), 6) AS mean_max_sim
      |FROM per_row GROUP BY label""".stripMargin
}
