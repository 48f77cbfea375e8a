package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [EXT] Deterministic weighted sampling without replacement
  * (Efraimidis–Spirakis exponential races, IPL 2006): each row draws a
  * key u^(1/w) from a uniform u, and the k largest keys ARE a weighted
  * sample without replacement. The training-data use is importance-
  * weighted corpus subsampling (quality-score-weighted document picks)
  * where the sample must be reproducible run-to-run and engine-to-engine
  * — so u comes from an integer hash of the row id, not an RNG.
  *
  * The reference's pipeline moves whole files decided by set membership
  * (`sync-canvas-data-files.py:62-67`); this is the record-grained
  * probabilistic analog a curation pipeline runs to hit a token budget.
  *
  * Determinism discipline: u = ((id*2654435761) mod 1000003 + 1)/1000004
  * is pure int64 arithmetic — bit-identical in any engine; ranking by the
  * monotone transform ln(u)/w avoids pow() while ordering exactly as
  * u^(1/w) (BM25/q107 precedent: ln on both engines agrees bit-exact).
  * Ties break by id.
  *
  * Scale shape:
  *  - global sample: one map-only scan + TakeOrderedAndProject — shuffled
  *    volume is partitions×k, never the corpus;
  *  - stratified sample: the bounded-heap TopKByScore Aggregator per
  *    stratum — map-side partials reduce each partition to k rows before
  *    the shuffle (the q36b shape), so a hot stratum costs k per map
  *    partition, not a corpus-sized window sort.
  */
object Sampling {

  /** ln(u)/w for u drawn from the id hash: monotone in the E–S key
    * u^(1/w). Larger is better (u < 1 so ln(u) < 0; big w pulls the
    * score toward 0). Requires w > 0. */
  private def esScore(id: Column, w: Column): Column = {
    val u = ((id * lit(2654435761L)) % lit(1000003L) + lit(1L))
      .cast("double") / lit(1000004.0)
    log(u) / w
  }

  /** Global weighted sample of k rows: (id, score), best first. */
  def weightedSample(df: DataFrame, id: String, w: Column, k: Int): DataFrame = {
    val scored = df.select(col(id).as("id"), esScore(col(id), w).as("score"))
      .orderBy(col("score").desc, col("id").asc).limit(k)
    Similarity.rankBounded(scored, "rnk",
        Seq(col("score").desc, col("id").asc))
      .select(col("rnk").cast("int").as("rnk"), col("id"), col("score"))
  }

  /** Per-stratum weighted sample of k rows each. */
  def stratifiedWeightedSample(df: DataFrame, id: String, stratum: String,
      w: Column, k: Int): DataFrame = {
    val topk = udaf(new graft.functions.TopKByScore(k),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[graft.functions.ScoredId]())
    df.select(col(stratum).as("stratum"),
        esScore(col(id), w).as("score"), col(id).as("id"))
      .groupBy(col("stratum"))
      .agg(topk(col("score"), col("id")).as("top"))
      .select(col("stratum"), posexplode(col("top")))
      .select(col("stratum"), (col("pos") + 1).cast("int").as("rnk"),
        col("col.id").as("id"), col("col.score").as("score"))
  }

  // ---------------------------------------------------------------------
  // q118_weighted_sample — price-weighted order sample, global k=50 and
  // stratified k=5 per priority, unioned (kind distinguishes). Both the
  // TakeOrdered path and the Aggregator path face the same oracle.
  // ---------------------------------------------------------------------
  def q118WeightedSample(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val g = weightedSample(o, "o_orderkey", col("o_totalprice"), 50)
      .select(lit("global").as("kind"), lit("-").as("stratum"),
        col("rnk"), col("id"), col("score"))
    val st = stratifiedWeightedSample(o, "o_orderkey", "o_orderpriority",
        col("o_totalprice"), 5)
      .select(lit("stratified").as("kind"), col("stratum"),
        col("rnk"), col("id"), col("score"))
    g.unionByName(st)
  }

  val q118WeightedSampleSql: String =
    """WITH s AS (
      |  SELECT o_orderkey AS id, o_orderpriority AS stratum,
      |    ln(CAST((o_orderkey * 2654435761) % 1000003 + 1 AS DOUBLE)
      |       / 1000004.0) / o_totalprice AS score
      |  FROM orders),
      |g AS (
      |  SELECT 'global' AS kind, '-' AS stratum,
      |    CAST(ROW_NUMBER() OVER (ORDER BY score DESC, id ASC) AS INT)
      |      AS rnk, id, score
      |  FROM s),
      |st AS (
      |  SELECT 'stratified' AS kind, stratum,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY stratum
      |      ORDER BY score DESC, id ASC) AS INT) AS rnk, id, score
      |  FROM s)
      |SELECT * FROM g WHERE rnk <= 50
      |UNION ALL SELECT * FROM st WHERE rnk <= 5""".stripMargin

  /** DETERMINISTIC GLOBAL SHUFFLE for training-data ordering: every
    * epoch writer needs the corpus in a pseudo-random order that is (a)
    * reproducible run-to-run and engine-to-engine (resume a crashed
    * write, audit which examples a checkpoint saw), (b) independent of
    * input partitioning (a re-compacted corpus must shuffle
    * identically), and (c) seedable (epoch 2 ≠ epoch 1). `rand()` gives
    * none of these. The key is md5(id|seed) — a uniform, engine-neutral
    * hex string — and the result is the frame ordered by (key, id):
    * one range-partitioned sort, Spark's native TOTAL-order shape (AQE
    * sizes the ranges; the writer follows with maxRecordsPerFile), no
    * driver state, no windows. The leading hex chars of the key also
    * serve as a parallel bucket id: global order ≡ (bucket, order
    * within bucket), so downstream position assignment can window
    * PER-BUCKET (256-way parallel) instead of one global window. */
  def deterministicShuffle(df: DataFrame, id: String,
      seed: Long): DataFrame = {
    val key = md5(concat_ws("|", col(id).cast("string"),
      lit(seed.toString)).cast("binary"))
    df.withColumn("__shuffle_key", key)
      .orderBy(col("__shuffle_key"), col(id))
  }

  /** LEAKAGE-FREE HOLDOUT SPLIT: assign every row of a GROUP (a
    * source, a domain, a near-dup cluster id) to the same split, so
    * correlated content never straddles train/validation — the
    * contamination mode row-level `sampleBy` cannot prevent. The
    * assignment is the group key's md5 prefix (4 hex chars = 65536
    * uniform buckets, fraction resolution 1/65536) compared against
    * precomputed hex cutoffs — fixed-width lowercase hex compares
    * lexicographically = numerically in every engine, so the split is
    * deterministic, seedable, partitioning-independent, and
    * recomputable by any auditor from (key, seed, fractions) alone.
    * A NULL group key coalesces to the sentinel `__null__` BEFORE
    * hashing — without it, Spark's concat_ws silently skips the NULL
    * (bucket = md5(seed), a real split) while a SQL auditor's
    * `key || '|' || seed` is NULL and falls to the last label: the
    * same row lands in different splits depending on who computes,
    * breaking the recomputable-by-any-auditor contract. The sentinel
    * makes NULL one ordinary (auditable) group; mirror it in SQL as
    * `coalesce(key, '__null__')`.
    * Map-only: no shuffle, no state; 100 TB cost is one projection. */
  def groupHoldoutSplit(group: Column, seed: Long,
      fractions: Seq[(String, Double)]): Column = {
    require(fractions.nonEmpty &&
      math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      "fractions must sum to 1")
    val bucket = substring(md5(concat_ws("|",
      coalesce(group.cast("string"), lit("__null__")),
      lit(seed.toString)).cast("binary")), 1, 4)
    val cuts = fractions.map(_._2).scanLeft(0.0)(_ + _).tail.init
      .map(f => f"${math.floor(f * 65536).toLong}%04x")
    fractions.init.map(_._1).zip(cuts).foldRight(
      lit(fractions.last._1)) { case ((lbl, cut), rest) =>
      when(bucket < lit(cut), lit(lbl)).otherwise(rest)
    }
  }

  /** GLOBAL EPOCH POSITIONS without a global window: the epoch order is
    * (md5(id|seed), id) — [[deterministicShuffle]]'s key — and the
    * leading 2 hex chars partition it into 256 contiguous buckets, so
    * global position = bucket offset + position within bucket. Bucket
    * counts aggregate to ≤16^bucketHexChars rows, prefix-sum on the
    * driver, and broadcast back as a map literal; position-within-
    * bucket is a bucket-parallel window. No global sort state, no
    * driver data path beyond the counters — the q281 scale shape made
    * addressable. `bucketHexChars` sizes the per-bucket window input:
    * 2 (default, 256 buckets) suits up to ~TB corpora; at 100 TB pass
    * 3–4 (4096/65536 buckets) so each window partition sorts
    * corpus/buckets rows — the driver side stays a trivial prefix-sum
    * either way, and the positions are IDENTICAL for any width
    * (bucketing only parallelizes the same (md5, id) total order).
    * Returns `df`'s columns plus `pos` (1-based global position). */
  def epochPositions(df: DataFrame, id: String, seed: Long,
      bucketHexChars: Int = 2): DataFrame = {
    val pos = epochPosById(df, id, seed, bucketHexChars)
    // join-back by id: positions are a pure function of the id set, so
    // only the ID PROJECTION rides the determinism checkpoint inside
    // [[epochPosById]] — O(ids) local-disk bytes, not O(corpus
    // payload) — and the full rows are re-attached here with one hash
    // join (the same full-data shuffle the old full-row window paid).
    // `id` must be UNIQUE and NON-NULL: it is the epoch identity the
    // closed form replays from (duplicates would tie the total order).
    df.join(pos, df(id) === pos("__eid")).drop("__eid")
  }

  /** The narrow position frame: (`__eid`, pos) over `df`'s id column
    * only. Receipts consume this directly — the receipt pass never
    * touches payload columns. */
  private def epochPosById(df: DataFrame, id: String, seed: Long,
      bucketHexChars: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bucketHexChars >= 1 && bucketHexChars <= 8,
      "bucketHexChars must be in [1, 8]")
    val keyed = df.select(col(id).as("__eid"))
      .withColumn("__k", md5(concat_ws("|", col("__eid").cast("string"),
        lit(seed.toString)).cast("binary")))
      .withColumn("__b", substring(col("__k"), 1, bucketHexChars))
      // consumed twice (bucket counts + the position pass) — pin the
      // lineage so a nondeterministic or concurrently-growing input
      // cannot diverge between the two (a bucket missing from the
      // collected counts would silently NULL its positions). Only the
      // id projection is checkpointed: at 100 TB the full rows never
      // hit executor-local disk, and lineage for the payload is
      // preserved (recoverable on executor loss). An expensive
      // upstream (q286's closure) computes once here; callers that
      // also re-read it through [[epochPositions]]'s join-back should
      // persist it themselves if re-evaluation matters.
      .localCheckpoint()
    // the bucket-count pass doubles as the ID-CONTRACT enforcement
    // (zero extra jobs — same aggregation): `id` must be UNIQUE and
    // NON-NULL or the join-back in [[epochPositions]] silently DROPS
    // null-id rows and MULTIPLIES duplicate-id rows, while the
    // receipt path (no join) still counts them — a receipt certifying
    // a shard layout the writer never produced. An id lands in
    // exactly one bucket (the bucket is a function of md5(id|seed)),
    // so per-bucket distinct counts sum to the global distinct count.
    val counts = keyed.groupBy(col("__b"))
      .agg(count(lit(1)).as("n"),
        count_distinct(col("__eid")).as("nd"),
        sum(when(col("__eid").isNull, 1L).otherwise(0L)).as("nn"))
      .orderBy(col("__b")).collect()
    require(counts.map(_.getLong(3)).sum == 0L,
      s"epoch id column '$id' holds NULLs — the epoch identity must " +
        "be non-null (a null row would get a position but never " +
        "join back to its payload)")
    require(counts.map(_.getLong(1)).sum == counts.map(_.getLong(2)).sum,
      s"epoch id column '$id' holds duplicates — positions replay " +
        "from the id, so the epoch identity must be unique")
    var acc = 0L
    val offsets = counts.map { r =>
      val o = acc; acc += r.getLong(1); (r.getString(0), o)
    }.toMap
    // the bucket key always exists in the map (built from the same
    // rows); try_element_at keeps the expression ANSI-proof anyway
    keyed
      .withColumn("__p", row_number().over(
        Window.partitionBy(col("__b"))
          .orderBy(col("__k"), col("__eid"))).cast("long"))
      .withColumn("pos",
        try_element_at(typedLit(offsets), col("__b")) + col("__p"))
      .select(col("__eid"), col("pos"))
  }

  /** [[epochPositions]] plus the CLOSED-FORM shard assignment: shard =
    * (pos − 1) div recordsPerShard — shard s holds exactly global
    * positions [s·L+1, (s+1)·L], so shard membership and intra-shard
    * order are both pure functions of (id, seed, L), recomputable by
    * any auditor or resumed loader. */
  def epochShards(df: DataFrame, id: String, seed: Long,
      recordsPerShard: Long): DataFrame = {
    require(recordsPerShard > 0, "recordsPerShard must be positive")
    epochPositions(df, id, seed).withColumn("shard",
      expr(s"cast((pos - 1) div $recordsPerShard as int)"))
  }

  /** Per-shard ordered receipt — the [[graft.operators.Ingest
    * .shardFingerprint]] shape over the EPOCH order: counts, position
    * range, boundary ids, and an md5 over the shard's id sequence IN
    * ORDER. A loader (or auditor) replays the closed form and verifies
    * each shard before training on it. */
  def epochShardReceipts(df: DataFrame, id: String, seed: Long,
      recordsPerShard: Long): DataFrame = {
    require(recordsPerShard > 0, "recordsPerShard must be positive")
    // narrow end-to-end: receipts are a function of (id, pos) alone, so
    // they ride [[epochPosById]] directly — no payload join-back
    epochPosById(df, id, seed, bucketHexChars = 2)
      .withColumn("shard",
        expr(s"cast((pos - 1) div $recordsPerShard as int)"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("pos")).as("first_pos"), max(col("pos")).as("last_pos"),
        sort_array(collect_list(struct(col("pos").as("p"),
          col("__eid").cast("string").as("i")))).as("xs"))
      .select(col("shard"), col("n_docs"), col("first_pos"),
        col("last_pos"),
        md5(array_join(expr("transform(xs, x -> x.i)"), ",")
          .cast("binary")).as("ids_md5"))
  }

  /** ORDER-PRESERVING SHARD WRITER — the artifact a training loader
    * consumes: `outDir/shard=N/` holds shard N's rows in epoch order.
    * One shuffle on the shard id; `sortWithinPartitions(shard, pos)`
    * keeps each shard contiguous and ordered inside its task, and the
    * partitionBy write splits tasks into per-shard directories whose
    * file row order IS the epoch order (parquet preserves row order
    * within a file). Shards are ~recordsPerShard·rowbytes — size L so
    * a shard fits a write task comfortably. Returns the shard count. */
  def writeEpochShards(df: DataFrame, id: String, seed: Long,
      recordsPerShard: Long, outDir: String): Long = {
    val sh = epochShards(df, id, seed, recordsPerShard)
    sh.repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      // STATIC overwrite regardless of the session conf: under
      // `partitionOverwriteMode=dynamic` a re-export with fewer shards
      // would leave the previous run's higher-numbered shard dirs in
      // place, and the listing-derived count below (and any loader
      // listing the directory) would train on stale shards
      .write.option("partitionOverwriteMode", "static")
      .partitionBy("shard").mode("overwrite").parquet(outDir)
    // shard count from the written layout — one directory listing,
    // not a second run of the epoch pipeline
    val fs = graft.pipeline.Fs.of(outDir, sh.sparkSession)
    fs.listStatus(new org.apache.hadoop.fs.Path(outDir))
      .count(st => st.isDirectory && st.getPath.getName.startsWith("shard="))
      .toLong
  }

  // ---------------------------------------------------------------------
  // q285_epoch_shards — the epoch-shard export's receipts pinned
  // end-to-end: shard membership (the closed-form (pos−1) div L), the
  // position ranges, AND intra-shard order (an md5 over each shard's id
  // sequence in order) against DuckDB's replay of the same epoch order
  // (one ROW_NUMBER over (md5(id|seed), id)). A partitioning
  // sensitivity, a bucket-offset error, an off-by-one in the shard
  // form, or any reordering moves some shard's ids_md5 and hash-fails.
  // ---------------------------------------------------------------------
  def q285EpochShards(s: SparkSession, dir: String): DataFrame =
    epochShardReceipts(
      t(s, dir, "documents").select(col("doc_id")),
      "doc_id", seed = 7L, recordsPerShard = 64L)

  val q285EpochShardsSql: String =
    """WITH o AS (
      |  SELECT doc_id,
      |    ROW_NUMBER() OVER (
      |      ORDER BY md5(CAST(doc_id AS VARCHAR) || '|' || '7'),
      |        doc_id) AS pos
      |  FROM documents)
      |SELECT CAST((pos - 1) // 64 AS INT) AS shard,
      |  COUNT(*) AS n_docs,
      |  MIN(pos) AS first_pos, MAX(pos) AS last_pos,
      |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY pos))
      |    AS ids_md5
      |FROM o GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q281_det_shuffle — the deterministic shuffle's FULL ordering pinned
  // against an independent recomputation: positions are assigned
  // per-bucket (first 2 key chars, window 256-way parallel — the scale
  // path; global order ≡ (bucket, pos)), and the oracle replays
  // md5(doc_id|7)'s order in DuckDB. Any partitioning sensitivity,
  // seed drift, or engine hash disagreement moves every row.
  // ---------------------------------------------------------------------
  def q281DetShuffle(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = deterministicShuffle(
      t(s, dir, "documents").select(col("doc_id")), "doc_id", seed = 7L)
    d.select(substring(col("__shuffle_key"), 1, 2).as("bucket"),
        col("__shuffle_key"), col("doc_id"))
      .withColumn("pos", row_number().over(Window.partitionBy("bucket")
        .orderBy(col("__shuffle_key"), col("doc_id"))).cast("long"))
      .select(col("bucket"), col("pos"), col("doc_id"))
  }

  val q281DetShuffleSql: String =
    """WITH k AS (
      |  SELECT doc_id,
      |    md5(CAST(doc_id AS VARCHAR) || '|' || '7') AS key
      |  FROM documents)
      |SELECT substring(key, 1, 2) AS bucket,
      |  ROW_NUMBER() OVER (PARTITION BY substring(key, 1, 2)
      |    ORDER BY key, doc_id) AS pos,
      |  doc_id
      |FROM k""".stripMargin

  // ---------------------------------------------------------------------
  // q282_group_split — leakage-free 80/10/10 by document SOURCE: split
  // sizes and group counts against the oracle's recomputation, plus a
  // structural leak counter (groups straddling >1 split) that must be
  // ZERO by construction — a row-level split would make it the number
  // of multi-split sources.
  // ---------------------------------------------------------------------
  def q282GroupSplit(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val split = groupHoldoutSplit(col("source"), seed = 42L,
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val tagged = d.select(col("doc_id"), col("source"), split.as("split"))
    val leaked = tagged.groupBy(col("source"))
      .agg(countDistinct(col("split")).as("ns"))
      .filter(col("ns") > 1).count()
    tagged.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_groups"))
      .withColumn("leaked_groups", lit(leaked))
  }

  val q282GroupSplitSql: String =
    """WITH tagged AS (
      |  SELECT doc_id, source,
      |    CASE
      |      WHEN substring(md5(coalesce(source, '__null__')
      |          || '|' || '42'), 1, 4) < 'cccc'
      |        THEN 'train'
      |      WHEN substring(md5(coalesce(source, '__null__')
      |          || '|' || '42'), 1, 4) < 'e666'
      |        THEN 'val'
      |      ELSE 'test' END AS split
      |  FROM documents)
      |SELECT split, COUNT(*) AS n_docs,
      |  COUNT(DISTINCT source) AS n_groups,
      |  (SELECT COUNT(*) FROM (
      |     SELECT source FROM tagged GROUP BY source
      |     HAVING COUNT(DISTINCT split) > 1)) AS leaked_groups
      |FROM tagged GROUP BY split""".stripMargin
}
