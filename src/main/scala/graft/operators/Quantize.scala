package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import VectorIndex.{Pq, Routing, Spec, Sq8}

/** Product quantization (PQ) for embedding corpora — the memory side of
  * the 100 TB ANN story (Jégou, Douze, Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011). Where IVF ([[Similarity]])
  * prunes WHICH rows a probe touches, PQ compresses WHAT each row costs:
  * a d-dim float vector (d·4 bytes) becomes `m` sub-codes of `log₂ k`
  * bits — 64-dim float32 at m=8, k=16 is 256 B → 8 codes, a 32–64×
  * working-set reduction, which is what lets a candidate table that
  * would not fit in cluster memory live there compressed.
  *
  * Spark-first shape: the codebook is trained on a BOUNDED deterministic
  * driver sample (the [[Similarity]] IVF train pattern — O(1) at any
  * corpus size); encoding is a single map-only projection with the
  * codebook as plan literals (no shuffle, no UDF — nested higher-order
  * functions that stay inside codegen); the ADC scan is a broadcast of
  * per-query LOOKUP TABLES against the codes table (per row per query:
  * m array lookups + adds, no vector math); candidate top-k reduces
  * map-side through the bounded-heap [[graft.functions.TopKByScore]]
  * aggregator, so shuffled volume is partitions×k, never corpus-sized.
  *
  * Cosine contract: corpus vectors and queries are L2-normalized before
  * sub-splitting, so the ADC sum Σⱼ q̂ⱼ·cⱼ,codeⱼ approximates q̂·x̂ =
  * cosine(q, x) with the quantization residual as the only error; exact
  * cosine rerank over the top `rerankN` candidates removes that error
  * from the final ranking (FAISS's IndexRefineFlat shape).
  */
object Quantize {

  /** Codebook: `cb(j)(c)` is the k-means centroid `c` of subspace `j`,
    * each of dimension d/m. */
  type Codebook = Array[Array[Array[Double]]]

  private def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0.0) v else v.map(_ / n)
  }

  /** Deterministic per-subspace k-means on a bounded hash-ordered sample
    * (maximin init + fixed Lloyd iterations, L2 metric — sub-centroids
    * are NOT unit vectors, unlike the spherical IVF cells). No RNG: the
    * same corpus always trains the same codebook, so codes are
    * content-addressable artifacts. */
  def trainPqCodebook(e: DataFrame, m: Int = 8, k: Int = 16,
      sampleSize: Int = 1024, iters: Int = 20): Codebook = {
    val sample: Array[Array[Double]] = e
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .orderBy(xxhash64(col("vec_id")).asc, col("vec_id").asc)
      .limit(sampleSize)
      .select(col("emb")).collect()
      .map(r => normalize(r.getSeq[Double](0).toArray))
    require(sample.nonEmpty,
      "cannot train a PQ codebook: the embeddings corpus is empty")
    val d = sample(0).length
    require(d % m == 0, s"dimension $d not divisible by m=$m subspaces")
    val sub = d / m
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0d; var i = 0
      while (i < a.length) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    Array.tabulate(m) { j =>
      val xs = sample.map(_.slice(j * sub, (j + 1) * sub))
      val cents = new Array[Array[Double]](k)
      cents(0) = xs(0)
      val minD = xs.map(l2(_, cents(0)))
      for (c <- 1 until k) {
        val next = minD.indices.maxBy(minD) // farthest point
        cents(c) = xs(next)
        var i = 0
        while (i < xs.length) {
          val dd = l2(xs(i), cents(c))
          if (dd < minD(i)) minD(i) = dd
          i += 1
        }
      }
      for (_ <- 0 until iters) {
        val sums = Array.fill(k)(new Array[Double](sub))
        val counts = new Array[Int](k)
        xs.foreach { x =>
          val best = (0 until k).minBy(c => l2(x, cents(c)))
          counts(best) += 1
          var i = 0
          while (i < sub) { sums(best)(i) += x(i); i += 1 }
        }
        for (c <- 0 until k if counts(c) > 0)
          cents(c) = sums(c).map(_ / counts(c))
      }
      cents
    }
  }

  private def dotCol(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d),
      (acc, v) => acc + v)

  /** The input column L2-normalized (zero vectors pass through). */
  private def normCol(embCol: Column): Column = {
    val embD = embCol.cast("array<double>")
    val n = sqrt(aggregate(embD, lit(0.0d), (acc, v) => acc + v * v))
    when(n === 0.0d, embD).otherwise(transform(embD, x => x / n))
  }

  /** PQ encode as a map-only column: for each subspace j, the argmin-L2
    * sub-centroid id, via argmax of (2·x·c − |c|²) (the |x|² term is
    * constant per row). Codebook travels as plan literals; `array_max`
    * over (score, code) structs picks the winner — ties (exactly equal
    * scores, possible only for duplicate centroids on degenerate
    * corpora) resolve to the HIGHER code deterministically. */
  def pqEncodeCol(cb: Codebook, embCol: Column): Column = {
    val m = cb.length
    val sub = cb(0)(0).length
    val xn = normCol(embCol)
    array((0 until m).map { j =>
      val xj = slice(xn, j * sub + 1, sub)
      val scored = array(cb(j).indices.map { c =>
        val cNorm2 = cb(j)(c).map(x => x * x).sum
        struct(
          (dotCol(xj, typedLit(cb(j)(c).toSeq)) * 2.0d - cNorm2).as("s"),
          lit(c).as("code"))
      }: _*)
      array_max(scored).getField("code").cast("tinyint")
    }: _*)
  }

  // ---------------------------------------------------------------------
  // Persisted PQ index — codes under a FROZEN codebook on the shared
  // [[VectorIndex]] lifecycle, unrouted: rows live in `codes/`
  // (vec_id, codes: array<tinyint>), the codebook in `codebook/`
  // (sub, code, centroid).
  // ---------------------------------------------------------------------

  private[operators] def writeCodebook(spark: SparkSession, dir: String,
      cb: Codebook): Unit = {
    import spark.implicits._
    cb.zipWithIndex.flatMap { case (cents, j) =>
      cents.zipWithIndex.map { case (cent, c) => (j, c, cent.toSeq) }
    }.toSeq.toDF("sub", "code", "centroid").coalesce(1)
      .write.parquet(s"$dir/codebook")
  }

  private[operators] def readCodebook(spark: SparkSession,
      indexDir: String): Codebook =
    spark.read.parquet(s"$indexDir/codebook")
      .orderBy(col("sub"), col("code")).collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray))
      .map(_.toArray).toArray

  def buildPqIndex(spark: SparkSession, e: DataFrame, indexDir: String,
      m: Int = 8, k: Int = 16,
      ledger: Seq[(String, String)] = Nil): Unit =
    VectorIndex.build(spark, Spec(Pq(m, k)), e, indexDir, ledger)

  /** Build-if-stale; returns true when a rebuild ran. */
  def ensurePqIndex(spark: SparkSession, e: DataFrame, indexDir: String,
      m: Int = 8, k: Int = 16): Boolean =
    VectorIndex.ensure(spark, Spec(Pq(m, k)), e, indexDir)

  def appendToPqIndex(spark: SparkSession, batch: DataFrame,
      indexDir: String): Unit = VectorIndex.append(spark, batch, indexDir)

  /** ADC probe of a persisted PQ index. `queries` (q_id, q_emb) is a
    * BOUNDED batch (collected to build the per-query lookup tables —
    * nQueries × m × k doubles, KBs; same driver-side contract as the
    * IVF centroid collect). Per corpus row per query the scan does m
    * table lookups + adds over the codes — no vector math touches the
    * corpus. Top `rerankN` candidates per query reduce map-side
    * ([[graft.functions.TopKByScore]]), then exact cosine over the
    * candidates' ORIGINAL embeddings (from `e`, broadcast-joined by id)
    * yields the final top `k`. `rerankN <= 0` means EXHAUSTIVE: every
    * indexed id becomes a candidate (the q102b derived-oracle knob —
    * approximation off, result must equal brute force). */
  def probePqIndex(spark: SparkSession, indexDir: String,
      queries: DataFrame, e: DataFrame, k: Int = 5,
      rerankN: Int = 64): DataFrame = {
    val cb = graft.pipeline.PersistedStore.open(indexDir)(
      readCodebook(spark, indexDir))
    val m = cb.length
    val sub = cb(0)(0).length
    val qRows = queries.select(col("q_id"),
        col("q_emb").cast("array<double>")).collect()
      .map(r => (r.getLong(0), normalize(r.getSeq[Double](1).toArray)))
    val sqlCtx = spark
    import sqlCtx.implicits._
    // per-query ADC tables: tbl(j)(c) = q̂ⱼ · cb(j)(c)
    val tables = qRows.toSeq.map { case (qId, qn) =>
      (qId, (0 until m).map { j =>
        val qj = qn.slice(j * sub, (j + 1) * sub)
        cb(j).map(c => c.zip(qj).map { case (a, b) => a * b }.sum).toSeq
      })
    }.toDF("q_id", "tbl")
    val codes = spark.read.parquet(s"$indexDir/codes")
    val scored = codes.crossJoin(broadcast(tables))
      .filter(col("vec_id") =!= col("q_id"))
    val candidates =
      if (rerankN <= 0) scored.select(col("q_id"), col("vec_id"))
      else {
        val adc = scored.select(col("q_id"), col("vec_id"),
          aggregate(
            zip_with(col("codes"), col("tbl"),
              (code, row) => element_at(row, code.cast("int") + 1)),
            lit(0.0d), (acc, v) => acc + v).as("approx"))
        val topk = udaf(new graft.functions.TopKByScore(rerankN),
          org.apache.spark.sql.catalyst.encoders
            .ExpressionEncoder[graft.functions.ScoredId]())
        adc.groupBy(col("q_id"))
          .agg(topk(col("approx"), col("vec_id")).as("cand"))
          .select(col("q_id"), explode(col("cand")).as("c"))
          .select(col("q_id"), col("c.id").as("vec_id"))
      }
    rerankExact(e, candidates, queries, k)
  }

  /** Exact cosine rerank of the bounded `candidates` (q_id, vec_id) on
    * the ORIGINAL embeddings from `e` — both joins stream the big side
    * once with the candidates/queries broadcast — to the top `k` per
    * query, ties by vec_id. Quantization only ever picks candidates;
    * it never touches the final ranking. */
  private def rerankExact(e: DataFrame, candidates: DataFrame,
      queries: DataFrame, k: Int): DataFrame = {
    graft.functions.VectorFunctions.register(e.sparkSession)
    val withEmb = e.select(col("vec_id"), col("embedding"))
      .join(broadcast(candidates), Seq("vec_id"))
      .join(broadcast(queries.select(col("q_id"), col("q_emb"))),
        Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        expr("cosine_sim(q_emb, embedding)").as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id").asc)
    withEmb.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("vec_id"))
  }

  // ---------------------------------------------------------------------
  // IVFADC — the composed billion-scale index (FAISS's IndexIVFPQ /
  // Jégou et al. TPAMI'11 §V): IVF prunes WHICH cells a probe reads,
  // and inside each cell rows carry PQ CODES INSTEAD OF VECTORS, so the
  // pruned scan is over 8-byte codes, not 256-byte floats. One build
  // pass assigns cells AND encodes codes in a single map-only
  // projection; the cell-partitioned layout gives probes static
  // partition pruning (the [[Similarity.probeIvfIndex]] contract) and
  // the codes give the scan its 32–64× working-set reduction — the two
  // halves of the 100 TB ANN story in one artifact. Exact rerank joins
  // candidates back to the ORIGINAL embeddings, so compression never
  // touches the final ranking, only candidate selection.
  // ---------------------------------------------------------------------

  def buildIvfPqIndex(spark: SparkSession, e: DataFrame, indexDir: String,
      nlist: Int = 16, replicas: Int = 2, m: Int = 8, k: Int = 16,
      ledger: Seq[(String, String)] = Nil): Unit =
    VectorIndex.build(spark, ivfPq(nlist, replicas, m, k), e, indexDir,
      ledger)

  /** Build-if-stale; returns true when a rebuild ran. */
  def ensureIvfPqIndex(spark: SparkSession, e: DataFrame, indexDir: String,
      nlist: Int = 16, replicas: Int = 2, m: Int = 8,
      k: Int = 16): Boolean =
    VectorIndex.ensure(spark, ivfPq(nlist, replicas, m, k), e, indexDir)

  def appendToIvfPqIndex(spark: SparkSession, batch: DataFrame,
      indexDir: String): Unit = VectorIndex.append(spark, batch, indexDir)

  private def ivfPq(nlist: Int, replicas: Int, m: Int, k: Int): Spec =
    Spec(Pq(m, k), Some(Routing(nlist, replicas)))

  /** IVFADC probe: queries route to their `nprobe` best cells (static
    * partition IN-filter — the pruned dirs are fixed at planning time),
    * ADC scores the probed cells' CODES via broadcast lookup tables,
    * the bounded-heap top-`rerankN` per query reranks exactly on the
    * original embeddings. Replica multi-assignment duplicates rows
    * across cells, so candidates dedup before rerank. `rerankN <= 0`
    * with `nprobe = nlist` is the derived-oracle knob: both
    * approximations off ⇒ exact brute force (q104b). */
  def probeIvfPqIndex(spark: SparkSession, indexDir: String,
      queries: DataFrame, e: DataFrame, k: Int = 5, nprobe: Int = 4,
      rerankN: Int = 64): DataFrame = {
    val cells = VectorIndex.readCentroids(spark, indexDir)
    val cb = readCodebook(spark, indexDir)
    val m = cb.length
    val sub = cb(0)(0).length
    val qRows = queries.select(col("q_id"),
        col("q_emb").cast("array<double>")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val sqlCtx = spark
    import sqlCtx.implicits._
    val tables = qRows.toSeq.map { case (qId, q) =>
      val qn = normalize(q)
      val probed = {
        // same affinity rule as the corpus assignment: max dot vs the
        // unit cell centroids
        val scored = cells.indices.map(ci =>
          (cells(ci).zip(qn).map { case (a, b) => a * b }.sum, ci))
        scored.sortBy { case (s, ci) => (-s, ci) }.take(nprobe).map(_._2)
      }
      (qId, probed,
        (0 until m).map { j =>
          val qj = qn.slice(j * sub, (j + 1) * sub)
          cb(j).map(c => c.zip(qj).map { case (a, b) => a * b }.sum).toSeq
        })
    }.toDF("q_id", "cells", "tbl")
    val probedCells = qRows.isEmpty match {
      case true => Array.empty[Int]
      case false => tables.select(explode(col("cells"))).distinct()
        .collect().map(_.getInt(0))
    }
    val scan = spark.read.parquet(s"$indexDir/cells")
      .filter(col("cell").isin(probedCells.toSeq: _*))
    val scored = scan
      .join(broadcast(tables), array_contains(col("cells"), col("cell")))
      .filter(col("vec_id") =!= col("q_id"))
    val candidates =
      if (rerankN <= 0)
        scored.select(col("q_id"), col("vec_id")).distinct()
      else {
        val adc = scored.select(col("q_id"), col("vec_id"),
            aggregate(
              zip_with(col("codes"), col("tbl"),
                (code, row) => element_at(row, code.cast("int") + 1)),
              lit(0.0d), (acc, v) => acc + v).as("approx"))
          .distinct() // replica duplicates carry identical codes/scores
        val topk = udaf(new graft.functions.TopKByScore(rerankN),
          org.apache.spark.sql.catalyst.encoders
            .ExpressionEncoder[graft.functions.ScoredId]())
        adc.groupBy(col("q_id"))
          .agg(topk(col("approx"), col("vec_id")).as("cand"))
          .select(col("q_id"), explode(col("cand")).as("c"))
          .select(col("q_id"), col("c.id").as("vec_id"))
      }
    rerankExact(e, candidates, queries, k)
  }


  /** Streaming IVFADC maintenance on [[VectorIndex.foreachBatchSink]]
    * (centroids and codebook freeze at the bootstrap batch; the retrain
    * cadence stays a batch-side decision). */
  def foreachBatchIvfPqSink(indexDir: String, nlist: Int = 16,
      replicas: Int = 2, m: Int = 8,
      k: Int = 16): (DataFrame, Long) => Unit =
    VectorIndex.foreachBatchSink(ivfPq(nlist, replicas, m, k), indexDir)

  // ---------------------------------------------------------------------
  // q102_pq_adc — PQ ANN through the persisted index: ensure-built,
  // ADC-probe the standard 20 gate queries, rerank top-64 candidates to
  // a top-5. Codebook (hence candidate order) is engine-specific →
  // rows-only driver check; ranking quality is spec-tested (recall
  // floor vs exact on a clustered fixture, ADC ≡ reconstructed-dot
  // identity) in QuantizeSpec.
  // ---------------------------------------------------------------------
  // ---------------------------------------------------------------------
  // INT8 SCALAR QUANTIZATION (SQ8) — production vector stores' first-line
  // embedding compression (FAISS ScalarQuantizer / the common "SQ8"
  // index): per-DIMENSION affine codes
  //   scale_d = (max_d − min_d) / 255 ;  code = clamp(⌊(x − min_d)/scale_d
  //   + 0.5⌋, 0, 255) ;  x̂ = min_d + scale_d·code
  // — float32 → 1 byte/dim (4×) with error ≤ scale_d/2 per component,
  // complementing PQ above (SQ8 keeps per-dimension structure — exact
  // distance arithmetic on decoded values, trivial to train — where PQ
  // trades more compression for codebook lookups). Spark-first shape:
  // params are one posexplode + 64-group aggregate (map-side partials;
  // shuffle is d rows), encode/decode is a broadcast of the d-row param
  // table (bounded by DIMENSIONALITY, never corpus) + map-only
  // higher-order expressions. At 100 TB the param pass either samples or
  // reads maintained per-dim min/max from the profile store; the full
  // pass here is the exact baseline. A constant dimension (max == min)
  // gets scale 0, code 0, and reconstructs min exactly.
  // ---------------------------------------------------------------------

  /** Per-dimension (0-based) quantization params over `embedding`
    * columns: (dim, mn, mx, scale). One aggregate, d output rows. */
  def sqTrain(embs: DataFrame): DataFrame =
    embs.select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim"), col("x").cast("double").as("x"))
      .groupBy(col("dim"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .withColumn("scale", (col("mx") - col("mn")) / lit(255.0d))

  /** (vec_id, dim, x, code) — exploded codes under `params`. Kept in
    * exploded long form for auditability; production packing to
    * `binary` is a byte-cast away and changes no code value. */
  def sqEncode(embs: DataFrame, params: DataFrame): DataFrame =
    embs.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("vec_id"), col("dim"),
        col("xf").cast("double").as("x"))
      .join(broadcast(params), Seq("dim")) // d rows — dimensionality
      .withColumn("code",
        when(col("scale") === 0.0d, lit(0L)).otherwise(
          least(lit(255L), greatest(lit(0L),
            floor((col("x") - col("mn")) / col("scale") + lit(0.5d))))))
      .select(col("vec_id"), col("dim"), col("x"), col("mn"),
        col("scale"), col("code"))

  // ---------------------------------------------------------------------
  // q268_scalar_quant — SQ8 end-to-end, oracle-replayed: per dimension,
  // the quantized param bounds, the exact code sum (pins every code —
  // a single off-by-one on any element shifts it), and the exact
  // reconstruction-error mass Σ ⌊(x − x̂)²·1e12⌋ (int64-quantized per
  // ELEMENT before the sum — the float-discipline rule; the fixed IEEE
  // tree (x − (mn + scale·code))² is identical in both engines given
  // identical doubles, and ⌊·+0.5⌋ rounding avoids the one
  // engine-divergent op, round-half ties). 64 rows.
  // ---------------------------------------------------------------------
  def q268ScalarQuant(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val enc = sqEncode(e, sqTrain(e))
    val err = col("x") - (col("mn") + col("scale") * col("code"))
    enc.groupBy(col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"),
        floor(min(col("x")) * lit(1e8d)).cast("long").as("min_q"),
        floor(max(col("x")) * lit(1e8d)).cast("long").as("max_q"),
        sum(col("code")).as("sum_codes"),
        sum(floor(err * err * lit(1e12d)).cast("long")).as("sum_sqerr_q"))
  }

  val q268ScalarQuantSql: String =
    """WITH x AS (
      |  SELECT vec_id,
      |    unnest(range(0, len(embedding))) AS dim,
      |    CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |p AS (
      |  SELECT dim, MIN(x) AS mn, MAX(x) AS mx,
      |    (MAX(x) - MIN(x)) / 255.0 AS scale
      |  FROM x GROUP BY dim),
      |c AS (
      |  SELECT x.dim, x.x, p.mn, p.scale,
      |    CASE WHEN p.scale = 0 THEN 0
      |         ELSE CAST(LEAST(255, GREATEST(0,
      |           FLOOR((x.x - p.mn) / p.scale + 0.5))) AS BIGINT)
      |    END AS code
      |  FROM x JOIN p USING (dim)),
      |e AS (
      |  SELECT dim, x, code,
      |    x - (mn + scale * code) AS err
      |  FROM c)
      |SELECT dim, COUNT(*) AS n,
      |  CAST(FLOOR(MIN(x) * 1e8) AS BIGINT) AS min_q,
      |  CAST(FLOOR(MAX(x) * 1e8) AS BIGINT) AS max_q,
      |  CAST(SUM(code) AS BIGINT) AS sum_codes,
      |  CAST(SUM(CAST(FLOOR(err * err * 1e12) AS BIGINT)) AS BIGINT)
      |    AS sum_sqerr_q
      |FROM e GROUP BY dim""".stripMargin

  /** Per-dim SQ8 params collected to driver arrays, ordered by dim —
    * bounded by DIMENSIONALITY (the PQ-codebook discipline), never by
    * the corpus. */
  def sqParams(embs: DataFrame): (Array[Double], Array[Double]) = {
    val rows = sqTrain(embs).orderBy("dim").collect()
    (rows.map(_.getAs[Double]("mn")).toArray,
      rows.map(_.getAs[Double]("scale")).toArray)
  }

  /** SQ8 encode as a map-only column (params as plan literals,
    * codegen'd; byte-packing to `binary` is a cast away and changes no
    * value). */
  def sqEncodeCol(embCol: Column, mns: Array[Double],
      scales: Array[Double]): Column = {
    val mnA = typedLit(mns.toSeq)
    val scA = typedLit(scales.toSeq)
    transform(embCol, (x, i) => {
      val mn = element_at(mnA, i + 1)
      val sc = element_at(scA, i + 1)
      when(sc === 0.0d, lit(0L)).otherwise(
        least(lit(255L), greatest(lit(0L),
          floor((x.cast("double") - mn) / sc + lit(0.5d)))))
    })
  }

  /** (vec_id, codes: array<long>) — the packed form an SQ8 corpus
    * actually stores. */
  def sqEncodeArray(embs: DataFrame, mns: Array[Double],
      scales: Array[Double]): DataFrame =
    embs.select(col("vec_id"),
      sqEncodeCol(col("embedding"), mns, scales).as("codes"))

  /** Decode an SQ8 `codes` array back to doubles (x̂ = mn + scale·code),
    * element order preserved. */
  def sqDecode(codes: Column, mns: Array[Double],
      scales: Array[Double]): Column = {
    val mnA = typedLit(mns.toSeq)
    val scA = typedLit(scales.toSeq)
    transform(codes, (c, i) =>
      element_at(mnA, i + 1) + element_at(scA, i + 1) * c.cast("double"))
  }

  // ---------------------------------------------------------------------
  // q269_sq_scan — cosine top-k THROUGH the SQ8 codes (the asymmetric
  // scan production SQ indexes run: the query stays full-precision, the
  // corpus is one byte per dimension): decode-on-the-fly inside the
  // scoring expression, exact cosine arithmetic on the reconstructed
  // values — the q36 scan shape (queries broadcast, one corpus pass)
  // over a 4× smaller working set. Integer-only output (q_id, rnk,
  // vec_id), ties by vec_id; the oracle replays encode → decode →
  // cosine with the identical left-fold element order (list_reduce =
  // the aggregate() twin), so the ranks are pinned bit-for-bit, not
  // approximately.
  // ---------------------------------------------------------------------
  def q269SqScan(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val (mns, scales) = sqParams(e)
    // decode + per-side norms hoist to one projection per ROW/QUERY —
    // only the dot is per-pair work (identical IEEE trees, so the
    // oracle-pinned ranks are unchanged bit-for-bit)
    val r0 = sqDecode(col("codes"), mns, scales)
    val corpus = sqEncodeArray(e, mns, scales)
      .select(col("vec_id"), r0.as("r"),
        aggregate(r0, lit(0.0d), (a, x) => a + x * x).as("nn"))
    val q0 = transform(col("embedding"), x => x.cast("double"))
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), q0.as("q"),
        aggregate(q0, lit(0.0d), (a, x) => a + x * x).as("qn"))
    val dot = aggregate(
      zip_with(col("q"), col("r"), (a, b) => a * b),
      lit(0.0d), (acc, v) => acc + v)
    val scored = corpus.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dot / (sqrt(col("qn")) * sqrt(col("nn")))).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("vec_id"))
  }

  val q269SqScanSql: String =
    """WITH x AS (
      |  SELECT vec_id, unnest(range(0, len(embedding))) AS dim,
      |    CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |p AS (SELECT dim, MIN(x) AS mn, (MAX(x) - MIN(x)) / 255.0 AS scale
      |      FROM x GROUP BY dim),
      |pa AS (SELECT list(mn ORDER BY dim) AS mns,
      |              list(scale ORDER BY dim) AS scales FROM p),
      |r AS (
      |  SELECT e.vec_id,
      |    list_transform(range(1, len(e.embedding) + 1), i ->
      |      pa.mns[i] + pa.scales[i] *
      |      (CASE WHEN pa.scales[i] = 0 THEN 0
      |            ELSE LEAST(255, GREATEST(0,
      |              FLOOR((CAST(e.embedding[i] AS DOUBLE) - pa.mns[i])
      |                / pa.scales[i] + 0.5))) END)) AS recon
      |  FROM embeddings e, pa),
      |qv AS (
      |  SELECT vec_id AS q_id,
      |    list_transform(embedding, v -> CAST(v AS DOUBLE)) AS q
      |  FROM embeddings WHERE vec_id < 20),
      |scored AS (
      |  SELECT qv.q_id, r.vec_id,
      |    list_reduce(list_prepend(0.0,
      |      list_transform(range(1, len(r.recon) + 1),
      |        i -> qv.q[i] * r.recon[i])), (a, b) -> a + b)
      |    / (sqrt(list_reduce(list_prepend(0.0,
      |         list_transform(qv.q, v -> v * v)), (a, b) -> a + b))
      |       * sqrt(list_reduce(list_prepend(0.0,
      |         list_transform(r.recon, v -> v * v)), (a, b) -> a + b)))
      |      AS sim
      |  FROM qv JOIN r ON r.vec_id <> qv.q_id)
      |SELECT q_id, CAST(rnk AS INT) AS rnk, vec_id FROM (
      |  SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
      |    ORDER BY sim DESC, vec_id ASC) AS rnk
      |  FROM scored)
      |WHERE rnk <= 5""".stripMargin

  def q102PqAdc(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val e = t(s, dir, "embeddings")
    val idx = VectorIndex.gateDir("pq", dir)
    ensurePqIndex(s, e, idx)
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    probePqIndex(s, idx, queries, e, k = 5, rerankN = 64)
  }

  // ---------------------------------------------------------------------
  // q102b_pq_exhaustive — DERIVED ORACLE for the PQ machinery (the q37b
  // pattern): with rerankN ≤ 0 every indexed id is a candidate, so the
  // whole pipeline — codebook train, corpus encode, index persistence,
  // candidate provenance THROUGH the codes table, the embedding
  // join-back, cosine rerank, rank ties — must reproduce the exact
  // brute-force answer and is checked against q36's DuckDB oracle. The
  // ADC ordering (the one approximation) is then spec-tested separately.
  // ---------------------------------------------------------------------
  def q102bPqExhaustive(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val e = t(s, dir, "embeddings")
    val idx = VectorIndex.gateDir("pq", dir)
    ensurePqIndex(s, e, idx)
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    probePqIndex(s, idx, queries, e, k = 5, rerankN = 0)
  }

  // ---------------------------------------------------------------------
  // q104_ivfadc — the composed index end-to-end: cell-pruned scan over
  // PQ codes, ADC candidate selection, exact rerank. Engine-specific
  // ordering → rows-only; quality spec'd in QuantizeSpec.
  // ---------------------------------------------------------------------
  def q104Ivfadc(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val e = t(s, dir, "embeddings")
    val idx = VectorIndex.gateDir("ivfpq", dir)
    ensureIvfPqIndex(s, e, idx)
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    probeIvfPqIndex(s, idx, queries, e, k = 5, nprobe = 4,
      rerankN = 64)
  }

  // ---------------------------------------------------------------------
  // q104b_ivfadc_exhaustive — DERIVED ORACLE: nprobe = nlist AND
  // rerankN ≤ 0 turn BOTH approximations off (every cell probed, every
  // indexed id a candidate), so cell assignment, code persistence, the
  // cell-pruned scan, replica dedup, the embedding join-back and the
  // rerank must together reproduce exact brute force vs q36's DuckDB
  // oracle. The two quality knobs are then spec-tested separately.
  // ---------------------------------------------------------------------
  def q104bIvfadcExhaustive(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val e = t(s, dir, "embeddings")
    val idx = VectorIndex.gateDir("ivfpq", dir)
    ensureIvfPqIndex(s, e, idx)
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    probeIvfPqIndex(s, idx, queries, e, k = 5, nprobe = 16,
      rerankN = 0)
  }

  // ---------------------------------------------------------------------
  // IVF-SQ8 — the composed index for the SQ8 codes (FAISS's
  // IndexIVFScalarQuantizer): IVF prunes WHICH cells a probe reads,
  // and inside each cell rows carry 1-byte-per-dimension SQ8 codes
  // instead of float vectors — 4× smaller probed scans with
  // per-dimension structure intact, so scoring DECODES ON THE FLY
  // (x̂ = mn + scale·code, plan-literal params, whole-stage codegen)
  // and runs exact cosine arithmetic on the reconstructed values — the
  // asymmetric scan production SQ stores run (query full-precision).
  // Persisted on the shared [[VectorIndex]] lifecycle (routed, Sq8
  // codec): `sqparams/` holds (dim, mn, scale) — d rows — and the cell
  // files (vec_id, codes: array<long>).
  // ---------------------------------------------------------------------

  def buildIvfSqIndex(spark: SparkSession, e: DataFrame, indexDir: String,
      nlist: Int = 16, replicas: Int = 2,
      ledger: Seq[(String, String)] = Nil): Unit =
    VectorIndex.build(spark, ivfSq(nlist, replicas), e, indexDir, ledger)

  /** Build-if-stale; returns true when a rebuild ran. */
  def ensureIvfSqIndex(spark: SparkSession, e: DataFrame,
      indexDir: String, nlist: Int = 16, replicas: Int = 2): Boolean =
    VectorIndex.ensure(spark, ivfSq(nlist, replicas), e, indexDir)

  private def ivfSq(nlist: Int, replicas: Int): Spec =
    Spec(Sq8, Some(Routing(nlist, replicas)))

  private[operators] def writeSqParams(spark: SparkSession, dir: String,
      mns: Array[Double], scales: Array[Double]): Unit = {
    import spark.implicits._
    mns.indices.map(i => (i, mns(i), scales(i))).toSeq
      .toDF("dim", "mn", "scale").coalesce(1)
      .write.parquet(s"$dir/sqparams")
  }

  /** The index's persisted quantization params, driver-collected —
    * bounded by DIMENSIONALITY, the PQ-codebook discipline. */
  private[operators] def readSqParams(spark: SparkSession,
      indexDir: String): (Array[Double], Array[Double]) = {
    val rows = spark.read.parquet(s"$indexDir/sqparams")
      .orderBy("dim").collect()
    (rows.map(_.getAs[Double]("mn")).toArray,
      rows.map(_.getAs[Double]("scale")).toArray)
  }

  /** Drift evidence for the SQ8 append path — the CLAMP RATE: the
    * fraction of `batch`'s (row, dimension) components falling outside
    * the index's FROZEN per-dimension [mn, mn + 255·scale] training
    * ranges. Out-of-range components saturate at code 0/255 (their
    * structure is lost to every probe), so a rising clamp rate is the
    * cheapest possible signal that the frozen params no longer cover
    * the data — one aggregate over the batch, d-element literal param
    * arrays, no store scan. The retrain signal [[graft.Warehouse]]
    * acts on for `sq = true` indexes when
    * `VectorIndexDef.retrainDriftThreshold` is set. */
  def sqClampRate(spark: SparkSession, indexDir: String,
      batch: DataFrame): Double = {
    // heal a crashed build swap before reading store files — the drift
    // check runs ahead of the append's own heal, and wedging every
    // future sync on a half-swapped store would be the exact failure
    // mode the sweep-quarantine work exists to prevent
    val (mns, scales) = graft.pipeline.PersistedStore.open(indexDir)(
      readSqParams(spark, indexDir))
    // clamped = the ENCODE saturates: the test runs the IDENTICAL
    // arithmetic as [[sqEncodeCol]] — floor((x-mn)/scale + 0.5)
    // outside [0,255], same operand order, same doubles — so the rate
    // matches the encoder bit-for-bit even at exact boundary values
    // (a pre-reduced `mn + 255.5·scale` threshold can disagree with
    // the encoder's own rounding at the saturation edge). Constant
    // dims (scale = 0) encode everything as code 0: never clamped.
    val mnA = typedLit(mns.toSeq)
    val scA = typedLit(scales.toSeq)
    val embD = col("embedding").cast("array<double>")
    val clampedPerRow = size(filter(
      zip_with(embD, sequence(lit(1), lit(mns.length)), (x, i) => {
        val mn = element_at(mnA, i.cast("int"))
        val sc = element_at(scA, i.cast("int"))
        val q = floor((x - mn) / sc + lit(0.5d))
        sc > 0.0d && (q < 0L || q > 255L)
      }),
      b => b))
    val r = batch.agg(
      sum(clampedPerRow).cast("double").as("c"),
      sum(size(embD)).cast("double").as("n")).head()
    if (r.isNullAt(1) || r.getDouble(1) == 0.0) 0.0
    else r.getDouble(0) / r.getDouble(1)
  }

  /** Appended vectors both route under the original centroids AND clamp
    * to the original per-dim ranges (out-of-range components saturate at
    * code 0/255) — the periodic retrain-rebuild refreshes both. */
  def appendToIvfSqIndex(spark: SparkSession, batch: DataFrame,
      indexDir: String): Unit = VectorIndex.append(spark, batch, indexDir)

  /** IVF-SQ8 probe: queries route to their `nprobe` best cells (static
    * partition IN-filter, the [[Similarity.probeIvfIndex]] contract);
    * inside the probed cells the scoring expression DECODES each row's
    * codes on the fly and computes exact cosine against the
    * full-precision query (the asymmetric scan) — map-only,
    * whole-stage-codegen, d-element literal param arrays, no UDF. The
    * bounded-heap top-`rerankN` per query then reranks exactly on the
    * ORIGINAL embeddings from `e` (the caller supplies the embedding
    * source — the index stores none, which is the point). Replica
    * multi-assignment dedups before rerank. `rerankN <= 0` with
    * `nprobe = nlist` turns BOTH approximations off: every indexed id
    * becomes a candidate and the exact rerank must reproduce brute
    * force — the q270b derived-oracle knob. */
  def probeIvfSqIndex(spark: SparkSession, indexDir: String,
      queries: DataFrame, e: DataFrame, k: Int = 5, nprobe: Int = 4,
      rerankN: Int = 64): DataFrame = {
    val cells = VectorIndex.readCentroids(spark, indexDir)
    val (mns, scales) = readSqParams(spark, indexDir)
    val qn0 = aggregate(
      transform(col("q_emb"), x => x.cast("double")),
      lit(0.0d), (a, x) => a + x * x)
    val q = queries.select(col("q_id"),
      transform(col("q_emb"), x => x.cast("double")).as("q"),
      qn0.as("__qn"),
      explode(Similarity.bestCells(cells, col("q_emb"), nprobe))
        .as("cell"))
    val probed = q.select(col("cell")).distinct().collect().map(_.get(0))
    val scan = spark.read.parquet(s"$indexDir/cells")
      .filter(col("cell").isin(probed.toSeq: _*))
    val candidates =
      if (rerankN <= 0)
        scan.join(broadcast(q), Seq("cell"))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id")).distinct()
      else {
        // decode + corpus norm hoist to ONE projection per ROW, before
        // the row×query join — only the dot product is per-pair work
        // (the score tree is unchanged expression-for-expression, so
        // candidate order is bitwise identical to the unhoisted form)
        val r0 = sqDecode(col("codes"), mns, scales)
        val decoded = scan.select(col("cell"), col("vec_id"),
          r0.as("__r"),
          aggregate(r0, lit(0.0d), (a, x) => a + x * x).as("__nn"))
        val scored = decoded.join(broadcast(q), Seq("cell"))
          .filter(col("vec_id") =!= col("q_id"))
        val dot = aggregate(
          zip_with(col("q"), col("__r"), (a, b) => a * b),
          lit(0.0d), (acc, v) => acc + v)
        val approx = scored.select(col("q_id"), col("vec_id"),
            (dot / (sqrt(col("__qn")) * sqrt(col("__nn")))).as("approx"))
          .distinct() // replica duplicates carry identical codes/scores
        val topk = udaf(new graft.functions.TopKByScore(rerankN),
          org.apache.spark.sql.catalyst.encoders
            .ExpressionEncoder[graft.functions.ScoredId]())
        approx.groupBy(col("q_id"))
          .agg(topk(col("approx"), col("vec_id")).as("cand"))
          .select(col("q_id"), explode(col("cand")).as("c"))
          .select(col("q_id"), col("c.id").as("vec_id"))
      }
    rerankExact(e, candidates, queries, k)
  }

  /** Streaming IVF-SQ8 maintenance on [[VectorIndex.foreachBatchSink]]
    * (centroids + params frozen after the bootstrap batch).
    *
    * `onDrift` surfaces the same per-batch clamp-rate evidence the
    * warehouse append path measures ([[sqClampRate]]) whenever it
    * exceeds `clampThreshold` — the streaming sink cannot safely
    * rebuild mid-stream (the index is single-writer and a stream
    * restart would race the swap), so the loop is: the callback alerts
    * (or flips a flag your orchestration reads), the operator stops
    * the stream, rebuilds, restarts. ≤ 0 disables the measurement
    * entirely (the default adds zero work per micro-batch). */
  def foreachBatchIvfSqSink(indexDir: String, nlist: Int = 16,
      replicas: Int = 2, clampThreshold: Double = 0.0,
      onDrift: (Long, Double) => Unit = (_, _) => ())
      : (DataFrame, Long) => Unit =
    VectorIndex.foreachBatchSink(ivfSq(nlist, replicas), indexDir,
      (batch, batchId) => if (clampThreshold > 0) {
        val r = sqClampRate(batch.sparkSession, indexDir, batch)
        if (r > clampThreshold) onDrift(batchId, r)
      })

  // ---------------------------------------------------------------------
  // q270_ivfsq — the persisted IVF-SQ8 index end-to-end: ensure-built,
  // cell-pruned scan over SQ8 codes, decode-on-the-fly asymmetric
  // cosine candidate selection, exact rerank. Centroid routing (hence
  // candidate order) is engine-specific → rows-only; ranking quality is
  // spec-tested (recall floor on the clustered fixture) in QuantizeSpec.
  // ---------------------------------------------------------------------
  def q270IvfSq(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val idx = VectorIndex.gateDir("ivfsq", dir)
    ensureIvfSqIndex(s, e, idx)
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    probeIvfSqIndex(s, idx, queries, e, k = 5, nprobe = 4,
      rerankN = 64)
  }

  // ---------------------------------------------------------------------
  // q270b_ivfsq_exhaustive — DERIVED ORACLE (the q104b pattern): with
  // nprobe = nlist AND rerankN ≤ 0 both approximations are off (every
  // cell probed, every indexed id a candidate), so SQ8 encoding, cell
  // assignment, code persistence, the cell-pruned scan, replica dedup,
  // the embedding join-back and the exact rerank must together
  // reproduce brute force vs q36's DuckDB oracle. The two quality
  // knobs are then spec-tested separately.
  // ---------------------------------------------------------------------
  def q270bIvfSqExhaustive(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val idx = VectorIndex.gateDir("ivfsq", dir)
    ensureIvfSqIndex(s, e, idx)
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    probeIvfSqIndex(s, idx, queries, e, k = 5, nprobe = 16,
      rerankN = 0)
  }
}
