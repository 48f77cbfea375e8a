package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.pipeline.{AppendCommit, MaintenanceLock, PersistedStore}

/** [EXT] Corpus-curation operators for training-data pipelines:
  * benchmark decontamination, deterministic train/val splitting, and
  * intra-document repetition filtering — the standard curation passes
  * (exact-substring decontamination as in GPT-3 appendix C / Llama;
  * repetition filters as in Gopher) re-expressed relationally.
  *
  * Scale design: every operator is explode → shuffle-on-key → aggregate;
  * n-gram material is built with the window-lead pipeline (one hash/
  * concat per word, no nested array lambdas — NOTES.md invariant 5), and
  * the decontamination join is a semi-join against the (small) benchmark
  * gram set, which Spark broadcasts. Nothing is ever all-pairs and no
  * driver-side loops exist. All three are fully oracle-checked (string
  * n-grams and md5 are engine-neutral, unlike xxhash64).
  */
object Curation {

  /** One row per (doc, position): the word-`n`-gram starting there, as a
    * '_'-joined string (string grams — the oracle must reproduce them in
    * SQL, unlike Dedup's hashed shingles). Shares [[NGrams.nGramRows]]. */
  private def wordGrams(docs: DataFrame, n: Int): DataFrame =
    NGrams.nGramRows(docs, n)(ws => concat_ws("_", ws: _*))

  // ---------------------------------------------------------------------
  // q62_decontaminate — benchmark decontamination: a held-out set (docs
  // with doc_id % 97 = 0 standing in for an eval benchmark) must not leak
  // into training data. A training doc is contaminated if it shares any
  // word-4-gram with any benchmark doc — the exact-substring overlap rule.
  // Relational shape: benchmark grams (small, distinct) semi-join the
  // corpus gram stream; contaminated doc ids fall out of one distinct.
  // ---------------------------------------------------------------------
  def q62Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val grams = wordGrams(d, 4)
    val isBench = col("doc_id") % 97 === 0
    val benchGrams = grams.filter(isBench).select(col("s")).distinct()
    val contaminated = grams.filter(!isBench)
      .join(broadcast(benchGrams), Seq("s"), "left_semi")
      .select(col("doc_id")).distinct()
      .withColumn("contaminated", lit(1L))
    d.filter(!isBench)
      .join(contaminated, Seq("doc_id"), "left_outer")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_train_docs"),
        sum(coalesce(col("contaminated"), lit(0L))).as("n_contaminated"),
        (count(lit(1)) - sum(coalesce(col("contaminated"), lit(0L))))
          .as("n_clean"))
  }

  val q62DecontaminateSql: String =
    """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w
      |           FROM documents),
      |g AS (SELECT DISTINCT doc_id,
      |        list_aggregate(w[i:i+3], 'string_agg', '_') AS s
      |      FROM t, UNNEST(range(1, len(w) - 2)) AS gg(i)),
      |bench AS (SELECT DISTINCT s FROM g WHERE doc_id % 97 = 0),
      |contaminated AS (
      |  SELECT DISTINCT g.doc_id FROM g JOIN bench ON g.s = bench.s
      |  WHERE g.doc_id % 97 <> 0)
      |SELECT lang,
      |  COUNT(*) AS n_train_docs,
      |  CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
      |       AS BIGINT) AS n_contaminated,
      |  CAST(COUNT(*) - SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0
      |       END) AS BIGINT) AS n_clean
      |FROM t LEFT JOIN contaminated c ON t.doc_id = c.doc_id
      |WHERE t.doc_id % 97 <> 0
      |GROUP BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // q63_hash_split — deterministic train/val split: bucket = first byte
  // of md5(doc_id), train if < 230 (≈90%). Hash-based splits are the
  // production standard because they are stable under corpus growth and
  // reshuffling (a doc's split never depends on what else is in the
  // corpus, unlike randomSplit). md5 is engine-neutral → fully
  // oracle-checked.
  // ---------------------------------------------------------------------
  def q63HashSplit(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val bucket = conv(substring(md5(col("doc_id").cast("string")
      .cast("binary")), 1, 2), 16, 10).cast("int")
    d.withColumn("split",
        when(bucket < 230, lit("train")).otherwise(lit("val")))
      .groupBy(col("lang"), col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
  }

  val q63HashSplitSql: String =
    """SELECT lang,
      |  CASE WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)
      |            AS INT) < 230
      |       THEN 'train' ELSE 'val' END AS split,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |FROM documents
      |GROUP BY 1, 2""".stripMargin

  /** GROUP-HOLDOUT split: every document of a GROUP (site/source/author)
    * lands in the SAME split, decided by a hash of the group key — the
    * leakage guard doc-level splitting (q63) cannot give: near-duplicate
    * pages from one site straddling train/val silently inflate eval
    * (the contamination class span-decontamination exists to catch
    * after the fact; this prevents it structurally). Same md5-prefix
    * bucket rule as q63 — deterministic, engine-reproducible, stable
    * under corpus growth (a group's split never changes as other groups
    * arrive, so incremental syncs extend splits consistently). Map-only
    * per row; no shuffle beyond the caller's aggregation. */
  def groupHoldoutSplit(docs: DataFrame, groupCol: String,
      trainCut: Int = 230): DataFrame = {
    val bucket = conv(substring(md5(col(groupCol).cast("string")
      .cast("binary")), 1, 2), 16, 10).cast("int")
    docs.withColumn("split",
      when(bucket < trainCut, lit("train")).otherwise(lit("val")))
  }

  // ---------------------------------------------------------------------
  // q254_group_split — the holdout keyed on `source`: the gate proves
  // split purity structurally (n_splits_per_group = 1 for every group)
  // and pins the assignment hash; the oracle replays the md5 bucket on
  // the group key. Integer-only output.
  // ---------------------------------------------------------------------
  def q254GroupSplit(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val split = groupHoldoutSplit(d, "source")
    // one row per (source, split) proves purity: a source appearing
    // under both splits would add rows and hash-fail
    split.groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"))
  }

  val q254GroupSplitSql: String =
    """SELECT source,
      |  CASE WHEN CAST('0x' || substring(md5(CAST(source AS VARCHAR)),
      |            1, 2) AS INT) < 230
      |       THEN 'train' ELSE 'val' END AS split,
      |  COUNT(*) AS n_docs,
      |  COUNT(DISTINCT lang) AS n_langs
      |FROM documents
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // q64_repetition — intra-document repetition filter: a doc whose most
  // frequent word-trigram repeats is boilerplate-suspect (the Gopher-style
  // repetition heuristics). Integer-only output so the gate is immune to
  // float ratios: per lang, docs, docs with any repeated trigram, and the
  // highest single-trigram count.
  // ---------------------------------------------------------------------
  def q64Repetition(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val perGram = wordGrams(d, 3)
      .groupBy(col("doc_id"), col("s")).agg(count(lit(1)).as("n"))
    val perDoc = perGram.groupBy(col("doc_id"))
      .agg(max(col("n")).as("max_gram"), sum(col("n")).as("n_grams"))
    d.select(col("doc_id"), col("lang"))
      .join(perDoc, Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("max_gram") >= 2, 1L).otherwise(0L))
          .as("n_with_repeat"),
        max(col("max_gram")).as("max_gram_count"))
  }

  val q64RepetitionSql: String =
    """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w
      |           FROM documents),
      |g AS (SELECT doc_id, list_aggregate(w[i:i+2], 'string_agg', '_') AS s
      |      FROM t, UNNEST(range(1, len(w) - 1)) AS gg(i)),
      |c AS (SELECT doc_id, s, COUNT(*) AS n FROM g GROUP BY 1, 2),
      |d AS (SELECT doc_id, MAX(n) AS max_gram, SUM(n) AS n_grams
      |      FROM c GROUP BY 1)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN max_gram >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_with_repeat,
      |  CAST(MAX(max_gram) AS BIGINT) AS max_gram_count
      |FROM t JOIN d USING (doc_id)
      |GROUP BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // q65_stratified_sample — deterministic stratified sampling: the k docs
  // with the smallest md5-derived rank PER LANGUAGE. Hash-ranked sampling
  // is the production shape (stable under corpus growth; a doc's
  // membership never depends on the rest of the corpus), and the
  // bounded-heap Aggregator is the scale-correct plan: map-side partial
  // heaps shuffle partitions×k rows, and low-cardinality strata (5 langs)
  // never funnel the corpus through 5 window-sort tasks. The 32-bit hash
  // slice is exact in double (no 53-bit precision loss), ties break by
  // doc_id in both engines.
  // ---------------------------------------------------------------------
  def q65StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val k = 20
    val hash32 = conv(substring(md5(col("doc_id").cast("string")
      .cast("binary")), 1, 8), 16, 10).cast("long")
    val topk = org.apache.spark.sql.functions.udaf(
      new graft.functions.TopKByScore(k),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[graft.functions.ScoredId]())
    d.select(col("lang"), negate(hash32.cast("double")).as("score"),
        col("doc_id").as("id"))
      .groupBy(col("lang"))
      .agg(topk(col("score"), col("id")).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).as("rnk"),
        col("col.id").as("doc_id"))
  }

  val q65StratifiedSampleSql: String =
    """SELECT lang, CAST(rnk AS INT) AS rnk, doc_id FROM (
      |  SELECT lang, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
      |                                      1, 8) AS BIGINT) ASC,
      |               doc_id ASC) AS rnk
      |  FROM documents)
      |WHERE rnk <= 20""".stripMargin

  // ---------------------------------------------------------------------
  // q67_pack_sequences — token-budget packing (concatenate-and-chunk):
  // assign every document its global token offset in doc_id order, then
  // bin = offset DIV budget — the standard way training pipelines pack
  // variable-length documents into fixed context windows (concatenate the
  // corpus, cut every `budget` tokens; a doc straddling a cut is split
  // across bins, reported in `straddle`).
  //
  // The interesting part is HOW the global running sum is computed. The
  // obvious `sum over (ORDER BY doc_id)` window has no PARTITION BY, so
  // Spark plans it as a SINGLE task over the whole corpus — correct at
  // sf0.1, a non-starter at 100 TB. [[packSequences]] is the distributed
  // prefix sum instead:
  //   1. bucket docs by coarse doc_id range; per-bucket token totals
  //      (one small aggregate);
  //   2. exclusive-prefix the BUCKET TOTALS — a single-partition window
  //      over #buckets rows (thousands), not corpus rows;
  //   3. within-bucket exclusive prefix, windowed PER BUCKET (parallel),
  //      plus the bucket's offset from (2).
  // Same algebra as a scan primitive on GPUs: local scan + block offsets.
  // The oracle computes the naive global window in DuckDB — the
  // distributed decomposition must agree to the row, and does.
  // ---------------------------------------------------------------------
  /** Global exclusive token offsets + fixed-budget bin assignment in
    * `orderCol` order, as a distributed prefix sum (see q67 note above).
    * `bucketWidth` controls the decomposition: #buckets ≈ id-range /
    * bucketWidth must stay driver-friendly (it never touches the driver
    * here, but the bucket-offset window is single-partition). */
  def packSequences(docs: DataFrame, budget: Long,
      bucketWidth: Long = 1000L, baseOffset: Long = 0L): DataFrame = {
    val toks = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      floor(col("doc_id") / bucketWidth).cast("long").as("bkt"))
    val bktTotals = toks.groupBy(col("bkt"))
      .agg(sum(col("n_tokens")).as("tot"))
    val wBkt = org.apache.spark.sql.expressions.Window.orderBy(col("bkt"))
      .rowsBetween(Long.MinValue, -1)
    val bktOff = bktTotals
      .withColumn("bkt_off", coalesce(sum(col("tot")).over(wBkt), lit(0L)))
      .select(col("bkt"), col("bkt_off"))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bkt")).orderBy(col("doc_id"))
      .rowsBetween(Long.MinValue, -1)
    toks
      .withColumn("in_off", coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
      .join(broadcast(bktOff), Seq("bkt"))
      .withColumn("off",
        (lit(baseOffset) + col("bkt_off") + col("in_off")).cast("long"))
      .withColumn("bin", expr(s"off DIV $budget"))
      .withColumn("straddle",
        when((col("off") % budget) + col("n_tokens") > budget, 1L)
          .otherwise(0L))
      .select(col("doc_id"), col("n_tokens"), col("off"), col("bin"),
        col("straddle"))
  }

  val PackBudget = 8192L

  def q67PackSequences(s: SparkSession, dir: String): DataFrame =
    packSequences(t(s, dir, "documents"), PackBudget)

  // ---------------------------------------------------------------------
  // q267_incremental_pack — sequence packing as a MAINTAINED STORE: the
  // last mile of the training pipeline (docs → fixed-budget context
  // windows) running per sync batch instead of as a corpus-wide job.
  // Each batch packs at the store's token FRONTIER — the sum of applied
  // batches' token totals, read from the AppendCommit ledger payloads
  // (O(#batches), no store scan) — so placements already written never
  // move: training shards stay stable as the corpus grows, which is the
  // property that makes incremental packing usable at all (a re-pack
  // re-shuffles every downstream shard). Semantics are ARRIVAL-ORDER
  // packing (within a batch: doc_id order via the q67 distributed
  // prefix sum); the oracle replays it as one global cumulative sum in
  // (batch, doc_id) order. Replay of an applied batch is a ledger no-op
  // (the q70/q96 discipline); a crashed append heals on retry via the
  // tagged-file protocol.
  // ---------------------------------------------------------------------

  /** Token frontier of a pack store = Σ applied batches' token totals
    * (each append records its batch total as a `pk_`-prefixed ledger
    * payload; the prefix keeps frontier entries distinct from the
    * warehouse loop's FreshFold covered markers sharing the ledger). */
  private def packFrontier(storeDir: String): Long =
    AppendCommit.appliedEntries(storeDir)
      .filter(_._1.startsWith("pk_"))
      .map(_._2.trim).filter(_.nonEmpty).map(_.toLong).sum

  private def tokenTotal(docs: DataFrame): Long =
    docs.agg(coalesce(sum(
        size(split(col("text"), " ")).cast("long")), lit(0L)))
      .head().getLong(0)

  /** Create a pack store from the initial corpus batch. `ledger` lets
    * the warehouse rebuild path record its covered-file markers in the
    * same atomic swap ([[graft.pipeline.PersistedStore.build]]). */
  def initPackStore(spark: SparkSession, storeDir: String,
      docs: DataFrame, budget: Long, batchId: String,
      ledger: Seq[(String, String)] = Nil): Unit =
    PersistedStore.build(storeDir,
        ledger :+ (s"pk_$batchId" -> tokenTotal(docs).toString)) { tmp =>
      packSequences(docs, budget).sortWithinPartitions(col("bin"))
        .write.parquet(s"$tmp/docs")
    }

  /** O(batch) append at the frontier. Appends are ORDER-DEPENDENT
    * (every batch's offsets build on the frontier before it), so the
    * store lock serializes them — the sync loop's per-table maintenance
    * is already sequential; concurrent callers queue here. */
  def appendToPackStore(spark: SparkSession, storeDir: String,
      batch: DataFrame, budget: Long, batchId: String): Unit =
    MaintenanceLock.withLock(storeDir, tag = "_frontier") {
      val total = tokenTotal(batch)
      PersistedStore.append(spark, storeDir, s"pk_$batchId",
          total.toString) {
        // the frontier is read after the heal: an empty live dir would
        // read zero
        val base = packFrontier(storeDir)
        tmp => packSequences(batch, budget, baseOffset = base)
          .sortWithinPartitions(col("bin")).write.parquet(s"$tmp/docs")
      }
      ()
    }

  /** All placements (doc_id, n_tokens, off, bin, straddle). Offsets are
    * immutable once written — see the q267 note. */
  def readPackStore(spark: SparkSession, storeDir: String): DataFrame =
    PersistedStore.open(storeDir)(spark.read.parquet(s"$storeDir/docs"))

  /** Bin-window read — the TRAINING-LOADER entry point: a shard
    * consumer reads its contiguous bin range, not the whole placement
    * table. Every placement write lands BIN-SORTED within its files
    * (init/append/compact all `sortWithinPartitions(bin)`), so the
    * range predicate prunes at parquet ROW-GROUP granularity via
    * min/max stats — at 100 TB a loader reading 1/1000th of the bins
    * touches ~1/1000th of the row groups, not a full placement scan.
    * The predicate is pushed (`PushedFilters` — plan-asserted in
    * CurationSpec); bins are stable within a pack epoch
    * ([[packEpoch]]). */
  def readPackBins(spark: SparkSession, storeDir: String,
      loBin: Long, hiBin: Long): DataFrame = {
    require(loBin <= hiBin, s"empty bin range [$loBin, $hiBin]")
    readPackStore(spark, storeDir)
      .filter(col("bin") >= loBin && col("bin") <= hiBin)
  }

  /** RTBF cascade hook, PLACEMENT-PRESERVING: drop the deleted docs'
    * placement rows and nothing else. Their bins keep HOLES — the
    * deleted spans are simply absent, surviving placements are
    * byte-identical (only files holding deleted rows rewrite —
    * [[graft.pipeline.Maintain.deleteByKey]]), and the token frontier
    * is UNTOUCHED (it is the sum of the ledger's `pk_` payloads, which
    * record what was PLACED, not what survives), so every later append
    * lands exactly where it would have — training shards stay stable
    * through a forget. O(hit files), never a corpus re-pack.
    *
    * Loader contract for the holes: a bin's occupancy is the sum of its
    * surviving `n_tokens`, NOT the budget — consumers that assumed
    * dense bins must pad or skip the gap (the standard tombstone
    * semantics of any offset-chained store). The conservative
    * alternative — drop the store, re-pack the filtered corpus densely
    * — stays available via [[graft.Warehouse.PackDef]]'s
    * `invalidateOnForget` flag. Idempotent: a replay finds no rows. */
  def purgePackStore(spark: SparkSession, storeDir: String,
      docIds: Seq[Any]): Long =
    PersistedStore.deleteRows(spark, storeDir, docIds, "doc_id", Seq("docs"))

  private[graft] val packFamily: PersistedStore.Family =
    (spark, dir, keys, _) => purgePackStore(spark, dir, keys)

  /** Pack EPOCH of a store: bumped by every [[compactPackStore]]
    * rewrite. Placements are stable WITHIN an epoch (the q267
    * contract); a compaction moves every surviving placement, so the
    * epoch is the version a downstream training consumer must pin —
    * shards cut under epoch N are invalid against epoch N+1's offsets.
    * 0 = never compacted (the store as [[initPackStore]] and appends
    * built it). */
  def packEpoch(storeDir: String): Long = PersistedStore.open(storeDir) {
    AppendCommit.appliedEntries(storeDir)
      .filter(_._1.startsWith("ep_"))
      .map(_._2.trim).filter(_.nonEmpty).map(_.toLong)
      .maxOption.getOrElse(0L)
  }

  /** Fraction of the store's token span that is DEAD (forget holes):
    * (frontier − live tokens) / frontier. The frontier counts what was
    * PLACED (Σ `pk_` ledger payloads); live counts what survives. */
  def packHoleRatio(spark: SparkSession, storeDir: String): Double =
    PersistedStore.open(storeDir) {
      val frontier = packFrontier(storeDir)
      if (frontier <= 0L) 0.0
      else (frontier - liveTokens(spark, storeDir)).toDouble /
        frontier.toDouble
    }

  private def liveTokens(spark: SparkSession, storeDir: String): Long =
    spark.read.parquet(s"$storeDir/docs")
      .agg(coalesce(sum(col("n_tokens")), lit(0L))).head().getLong(0)

  /** Dense re-pack of surviving placements in their ORIGINAL offset
    * order — the q67 two-level prefix sum keyed by the old bin (never
    * a corpus-wide single-partition sort): per-old-bin totals cumulate
    * over the small bin table, within-bin offsets window per bin. */
  private def repackPlacements(docs: DataFrame, budget: Long)
      : DataFrame = {
    val wB = org.apache.spark.sql.expressions.Window
      .orderBy(col("bin")).rowsBetween(Long.MinValue, -1)
    val binOff = docs.groupBy(col("bin"))
      .agg(sum(col("n_tokens")).as("tot"))
      .withColumn("bin_off", coalesce(sum(col("tot")).over(wB), lit(0L)))
      .select(col("bin"), col("bin_off"))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bin")).orderBy(col("off"))
      .rowsBetween(Long.MinValue, -1)
    docs
      .withColumn("in_off",
        coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
      .join(broadcast(binOff), Seq("bin"))
      .withColumn("new_off",
        (col("bin_off") + col("in_off")).cast("long"))
      .select(col("doc_id"), col("n_tokens"),
        col("new_off").as("off"),
        expr(s"new_off DIV $budget").as("bin"),
        when((col("new_off") % budget) + col("n_tokens") > budget, 1L)
          .otherwise(0L).as("straddle"))
  }

  /** EPOCH RE-PACK — the hole-reclamation counterpart of
    * [[purgePackStore]]: when forget traffic has turned enough of a
    * store's token span into dead holes (`minHoleRatio`), rewrite the
    * survivors DENSELY in their original arrival order and reset the
    * frontier to the live total, so training epochs stop paying I/O
    * for space no document occupies.
    *
    * The stability contract is explicitly VERSIONED: placements never
    * move within an epoch; a compaction moves all of them and bumps
    * [[packEpoch]] — consumers pin the epoch their shards were cut
    * under, and the [[graft.pipeline.SafeSwap]] replacement means a
    * concurrent loader reads a complete old tree or a complete new one,
    * never a mix (rename-window reads can FAIL transiently and retry —
    * SafeSwap's documented plain-rename contract — but cannot observe
    * torn state).
    * The replay ledger survives the rewrite: every applied batch id
    * stays applied (its `pk_` token payload re-marks as 0 — those
    * tokens now live inside the compacted base, counted by the one new
    * `pk_epoch<N>` entry), so a crashed upstream append retried after
    * a compaction is still a no-op, and the warehouse loop's
    * covered-file markers ride along unchanged. Appends after the
    * compaction land at the new dense frontier.
    *
    * Returns the new epoch, or None when the hole ratio is below the
    * threshold (no rewrite — the common case; checking costs one sum
    * over the placement table). O(store) when it fires — by
    * construction it fires at most once per 1/minHoleRatio of forget
    * volume, the same debt-bound shape as cell/stats/ledger
    * compaction elsewhere in the engine. */
  def compactPackStore(spark: SparkSession, storeDir: String,
      budget: Long, minHoleRatio: Double = 0.25): Option[Long] =
    MaintenanceLock.withLock(storeDir, tag = "_frontier") {
      PersistedStore.open(storeDir) {
        val frontier = packFrontier(storeDir)
        val live = liveTokens(spark, storeDir)
        val holes = frontier - live
        if (frontier <= 0L || holes <= 0L ||
            holes.toDouble / frontier.toDouble < minHoleRatio) None
        else {
          val epoch = packEpoch(storeDir) + 1L
          val repacked =
            repackPlacements(spark.read.parquet(s"$storeDir/docs"), budget)
          PersistedStore.build(storeDir,
              AppendCommit.appliedEntries(storeDir).map { case (id, p) =>
                id -> (if (id.startsWith("pk_")) "0" else p) } ++
              Seq(s"pk_epoch$epoch" -> live.toString,
                s"ep_$epoch" -> epoch.toString)) { tmp =>
            // the lazy read of the live placements executes inside this
            // write, strictly before SafeSwap renames the old tree aside
            repacked.sortWithinPartitions(col("bin"))
              .write.parquet(s"$tmp/docs")
          }
          Some(epoch)
        }
      }
    }

  /** Streaming pack maintenance — the [[graft.pipeline.Rollup
    * .foreachBatchSink]] shape for the training-sequence store: each
    * micro-batch of (doc_id, text) packs at the store's frontier with
    * the MICRO-BATCH ID as the replay unit, so Structured Streaming's
    * at-least-once `foreachBatch` redelivery (same id on restart)
    * becomes exactly-once placement through the AppendCommit ledger —
    * and because every batch packs strictly at the frontier the
    * previous batch committed, how the stream is chopped cannot move
    * any placement (chop-invariance spec'd in CurationSpec). Ordering
    * note: `foreachBatch` serializes micro-batches per query, which is
    * exactly the single-writer contract [[appendToPackStore]]'s
    * frontier lock enforces. */
  def foreachBatchPackSink(storeDir: String,
      budget: Long): (DataFrame, Long) => Unit =
    PersistedStore.foreachBatchSink(storeDir, "docs") { (batch, id) =>
      initPackStore(batch.sparkSession, storeDir, batch, budget,
        s"stream-$id")
    } { (batch, id) =>
      appendToPackStore(batch.sparkSession, storeDir, batch, budget,
        s"stream-$id")
    }

  private lazy val packGateBase: String =
    java.nio.file.Files.createTempDirectory("graft_ipack_").toString

  def q267IncrementalPack(s: SparkSession, dir: String): DataFrame = {
    val store = s"$packGateBase/ps_${dir.hashCode.toHexString}"
    if (!new java.io.File(s"$store.complete").exists()) {
      val d = t(s, dir, "documents")
      initPackStore(s, store,
        d.filter(col("doc_id") % 3 === 0), PackBudget, "b0")
      appendToPackStore(s, store,
        d.filter(col("doc_id") % 3 === 1), PackBudget, "b1")
      // replay of an applied batch must be a no-op before the next
      // batch's frontier is read
      appendToPackStore(s, store,
        d.filter(col("doc_id") % 3 === 1), PackBudget, "b1")
      appendToPackStore(s, store,
        d.filter(col("doc_id") % 3 === 2), PackBudget, "b2")
      new java.io.File(s"$store.complete").createNewFile()
    }
    readPackStore(s, store)
  }

  // ---------------------------------------------------------------------
  // q271_pack_holes — the PLACEMENT-PRESERVING pack-store forget,
  // oracle-replayed end-to-end: the q267 three-batch store purges every
  // doc_id ≡ 3 (mod 7) (replay must no-op), then reports per-bin
  // survivor occupancy — doc count, live tokens, and the exact OFFSET
  // SUM, which pins that every surviving placement kept its original
  // offset (a re-pack, a shifted offset, or a survivor lost to the
  // purge all move sum_off and hash-fail). DuckDB replays the packing
  // cumulative sum, filters the doomed ids, and aggregates identically
  // — the bin HOLES are exactly the deleted spans' absence.
  // ---------------------------------------------------------------------
  def q271PackHoles(s: SparkSession, dir: String): DataFrame = {
    val store = s"$packGateBase/ph_${dir.hashCode.toHexString}"
    if (!new java.io.File(s"$store.complete").exists()) {
      val d = t(s, dir, "documents")
      initPackStore(s, store,
        d.filter(col("doc_id") % 3 === 0), PackBudget, "b0")
      appendToPackStore(s, store,
        d.filter(col("doc_id") % 3 === 1), PackBudget, "b1")
      appendToPackStore(s, store,
        d.filter(col("doc_id") % 3 === 2), PackBudget, "b2")
      val doomed: Seq[Any] = d.filter(col("doc_id") % 7 === 3)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
      purgePackStore(s, store, doomed)
      purgePackStore(s, store, doomed) // idempotent replay
      new java.io.File(s"$store.complete").createNewFile()
    }
    readPackStore(s, store)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("live_tokens"),
        sum(col("off")).as("sum_off"))
      .select(col("bin"), col("n_docs"), col("live_tokens"),
        col("sum_off"))
  }

  // ---------------------------------------------------------------------
  // q277_pack_bins — the bin-window loader read: the q267 three-batch
  // store read through readPackBins([1, 2]) must equal the full
  // placement replay filtered to those bins — and the scan must PRUNE,
  // not post-filter (bin-sorted files + pushed predicate; the plan
  // shape is asserted in CurationSpec).
  // ---------------------------------------------------------------------
  def q277PackBins(s: SparkSession, dir: String): DataFrame = {
    // ensure the q267 store exists (idempotent; .complete-cached)
    q267IncrementalPack(s, dir)
    val store = s"$packGateBase/ps_${dir.hashCode.toHexString}"
    readPackBins(s, store, 1L, 2L)
  }

  val q277PackBinsSql: String =
    """WITH tk AS (SELECT doc_id, doc_id % 3 AS b,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |o AS (SELECT doc_id, n_tokens,
      |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY b, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS BIGINT) AS off
      |  FROM tk)
      |SELECT doc_id, n_tokens, off, off // 8192 AS bin,
      |  CAST(CASE WHEN (off % 8192) + n_tokens > 8192 THEN 1 ELSE 0 END
      |    AS BIGINT) AS straddle
      |FROM o WHERE off // 8192 BETWEEN 1 AND 2""".stripMargin

  // ---------------------------------------------------------------------
  // q273_pack_compact — the EPOCH RE-PACK end-to-end: a three-batch
  // store (doc_id % 4 ∈ {0,1,2}) purges every doc_id ≡ 3 (mod 7),
  // compacts (survivors rewrite densely in original arrival order,
  // epoch 0 → 1, frontier collapses to the live total), a REPLAY of
  // the compaction must no-op (holes are now zero), and a FOURTH batch
  // (doc_id % 4 = 3) appends AFTER the compaction — landing at the
  // dense frontier, which pins that the pk_ ledger rewrite (old
  // payloads zeroed, one pk_epoch1 entry carrying the live total) is
  // exactly right: any surviving hole, any double-counted frontier
  // token, or a moved batch-4 placement shifts sum_off and
  // hash-fails. DuckDB replays: pack b<3 in (b, doc_id) order → filter
  // the doomed → dense re-pack in the same order → append b=3 at the
  // live-total base. The epoch rides as a bin = −1 sentinel row
  // (n_docs = epoch): a compaction that silently never ran reports
  // epoch 0 and hash-fails.
  // ---------------------------------------------------------------------
  def q273PackCompact(s: SparkSession, dir: String): DataFrame = {
    val store = s"$packGateBase/pc_${dir.hashCode.toHexString}"
    if (!new java.io.File(s"$store.complete").exists()) {
      val d = t(s, dir, "documents")
      initPackStore(s, store,
        d.filter(col("doc_id") % 4 === 0), PackBudget, "b0")
      appendToPackStore(s, store,
        d.filter(col("doc_id") % 4 === 1), PackBudget, "b1")
      appendToPackStore(s, store,
        d.filter(col("doc_id") % 4 === 2), PackBudget, "b2")
      val doomed: Seq[Any] = d
        .filter(col("doc_id") % 7 === 3 && col("doc_id") % 4 < 3)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
      purgePackStore(s, store, doomed)
      compactPackStore(s, store, PackBudget, minHoleRatio = 1e-9)
      // replay must no-op: the holes are gone, the ratio is 0
      compactPackStore(s, store, PackBudget, minHoleRatio = 1e-9)
      appendToPackStore(s, store,
        d.filter(col("doc_id") % 4 === 3), PackBudget, "b3")
      new java.io.File(s"$store.complete").createNewFile()
    }
    val epoch = packEpoch(store)
    readPackStore(s, store)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("live_tokens"),
        sum(col("off")).as("sum_off"))
      .select(col("bin"), col("n_docs"), col("live_tokens"),
        col("sum_off"))
      .unionByName(s.range(1).select(lit(-1L).as("bin"),
        lit(epoch).as("n_docs"), lit(0L).as("live_tokens"),
        lit(0L).as("sum_off")))
  }

  val q273PackCompactSql: String =
    """WITH tk AS (SELECT doc_id, doc_id % 4 AS b,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |surv AS (SELECT * FROM tk WHERE b < 3 AND doc_id % 7 <> 3),
      |s2 AS (SELECT doc_id, n_tokens,
      |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY b, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS BIGINT) AS off
      |  FROM surv),
      |base AS (SELECT CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS tot
      |  FROM surv),
      |b3 AS (SELECT doc_id, n_tokens,
      |  (SELECT tot FROM base) +
      |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS BIGINT) AS off
      |  FROM tk WHERE b = 3),
      |f AS (SELECT doc_id, n_tokens, off FROM s2
      |  UNION ALL SELECT doc_id, n_tokens, off FROM b3)
      |SELECT off // 8192 AS bin, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS live_tokens,
      |  CAST(SUM(off) AS BIGINT) AS sum_off
      |FROM f GROUP BY 1
      |UNION ALL SELECT CAST(-1 AS BIGINT), CAST(1 AS BIGINT),
      |  CAST(0 AS BIGINT), CAST(0 AS BIGINT)""".stripMargin

  val q271PackHolesSql: String =
    """WITH tk AS (SELECT doc_id, doc_id % 3 AS b,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |o AS (SELECT doc_id, n_tokens,
      |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY b, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS BIGINT) AS off
      |  FROM tk),
      |f AS (SELECT * FROM o WHERE doc_id % 7 <> 3)
      |SELECT off // 8192 AS bin, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS live_tokens,
      |  CAST(SUM(off) AS BIGINT) AS sum_off
      |FROM f GROUP BY 1""".stripMargin

  val q267IncrementalPackSql: String =
    """WITH tk AS (SELECT doc_id, doc_id % 3 AS b,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |o AS (SELECT doc_id, n_tokens,
      |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY b, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS BIGINT) AS off
      |  FROM tk)
      |SELECT doc_id, n_tokens, off, off // 8192 AS bin,
      |  CAST(CASE WHEN (off % 8192) + n_tokens > 8192 THEN 1 ELSE 0 END
      |    AS BIGINT) AS straddle
      |FROM o""".stripMargin

  val q67PackSequencesSql: String =
    """WITH tk AS (SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |o AS (SELECT doc_id, n_tokens,
      |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS BIGINT) AS off
      |  FROM tk)
      |SELECT doc_id, n_tokens, off, off // 8192 AS bin,
      |  CAST(CASE WHEN (off % 8192) + n_tokens > 8192 THEN 1 ELSE 0 END
      |    AS BIGINT) AS straddle
      |FROM o""".stripMargin

  // ---------------------------------------------------------------------
  // q68_quality_prune — quantile-threshold pruning: per language, keep the
  // documents at or above the median length (n_chars stands in for a
  // quality score; the rule is "drop the bottom half per stratum", the
  // standard quality-prune shape).
  //
  // Scale design: the naive plan is a per-language percent_rank window —
  // but 5 languages means the whole corpus funnels through 5 window-sort
  // tasks (the q65 lesson). Instead the threshold is computed as an exact
  // order statistic RELATIONALLY: group scores per (lang, value) — the
  // per-stratum distinct-value table, which is small by construction —
  // cumulate counts from the top over that tiny table, pick the largest
  // value whose ≥-count covers ceil(n/2), broadcast the 5-row threshold
  // table, filter. The corpus is touched by exactly two streaming passes
  // (count, filter) and never sorted. Exact, so fully oracle-checked —
  // no cross-engine percentile-interpolation hazard (threshold is an
  // actual data value, quantile_disc semantics).
  // ---------------------------------------------------------------------
  /** Per-`key` threshold = largest `value` v with #(rows ≥ v) ≥ ceil(q·n)
    * — the upper-tail discrete quantile ([[OrderStats.upperTail]] over
    * the (key, value) count table), computed without sorting the corpus
    * (see q68 note). Rows with a NULL key belong to no group. */
  def quantileThresholds(df: DataFrame, key: String, value: String,
      q: Double): DataFrame =
    OrderStats.upperTail(
        OrderStats.counts(df.filter(col(key).isNotNull), Seq(key), value),
        Seq(key), value, "cnt", Seq(q))
      .select(col(key), col("n"), col("threshold"))

  /** Exact per-`key` upper-tail quantile threshold for CONTINUOUS scores
    * — same contract as [[quantileThresholds]], but safe when the score
    * is a double and the per-(key, value) distinct table is corpus-sized
    * ([[OrderStats.upperTailBucketed]]; `rangeHint` as documented
    * there). */
  def quantileThresholdsContinuous(df: DataFrame, key: String,
      value: String, q: Double, numBuckets: Int = OrderStats.DefaultBuckets,
      rangeHint: Option[(Double, Double)] = None): DataFrame =
    OrderStats.upperTailBucketed(df, Seq(key), value, Seq(q), numBuckets,
        rangeHint)
      .select(col(key), col("n"), col("threshold"))

  /** Multi-quantile variant of [[quantileThresholdsContinuous]]: ALL
    * requested upper-tail boundaries from ONE corpus pass — p50/p90/p99
    * together cost what one quantile costs. Output: (key, q, n,
    * threshold). */
  def quantileThresholdsContinuousMulti(df: DataFrame, key: String,
      value: String, qs: Seq[Double],
      numBuckets: Int = OrderStats.DefaultBuckets): DataFrame =
    OrderStats.upperTailBucketed(df, Seq(key), value, qs, numBuckets)

  // ---------------------------------------------------------------------
  // q94_winsorize — per-stratum outlier clipping (winsorization): clamp
  // each value into [lo, hi] where lo/hi are the stratum's exact
  // tail-order-statistics: the upper-tail contract ("largest v with
  // #(rows ≥ v) ≥ ceil(q·n)") gives the hi bound at q = tail directly and
  // the lo bound by symmetry at 1−tail, both from one multi-q pass
  // ([[OrderStats.twoTail]]). The standard robust-stats pre-step before
  // any mean/variance-based quality score at corpus scale; thresholds are
  // |keys|-bounded and broadcast, the clamp itself is map-only.
  // ---------------------------------------------------------------------
  def winsorize(df: DataFrame, key: String, value: String,
      tail: Double): DataFrame =
    clamp(df, key, value, OrderStats.twoTail(df, key, value, tail, None))

  /** Winsorization for CONTINUOUS scores — the production case (a
    * quality score is a double, so the per-(key, value) distinct table
    * is corpus-sized and the discrete path's per-key value window would
    * funnel each stratum through one sort task). Same contract as the
    * discrete [[winsorize]] at both quantiles, so the two variants agree
    * wherever both apply; the tails come from the bucketed kernel. */
  def winsorizeContinuous(df: DataFrame, key: String, value: String,
      tail: Double, numBuckets: Int = OrderStats.DefaultBuckets): DataFrame =
    clamp(df, key, value,
      OrderStats.twoTail(df, key, value, tail, Some(numBuckets)))

  private def clamp(df: DataFrame, key: String, value: String,
      tails: DataFrame): DataFrame =
    df.join(broadcast(tails.select(col(key), col("hi"), col("lo"))), key)
      .withColumn("clipped",
        greatest(col("lo"), least(col("hi"), col(value))))

  def q94Winsorize(s: SparkSession, dir: String): DataFrame =
    winsorize(t(s, dir, "documents"), "lang", "n_chars", 0.05)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        max(col("lo")).as("lo"),
        max(col("hi")).as("hi"),
        sum(col("clipped")).as("sum_clipped"),
        sum(when(col("n_chars") < col("lo"), 1L).otherwise(0L))
          .as("n_clipped_low"),
        sum(when(col("n_chars") > col("hi"), 1L).otherwise(0L))
          .as("n_clipped_high"))

  val q94WinsorizeSql: String =
    """WITH c AS (SELECT lang, n_chars, COUNT(*) AS cnt
      |           FROM documents GROUP BY 1, 2),
      |tot AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
      |cum AS (SELECT lang, n_chars,
      |          SUM(cnt) OVER (PARTITION BY lang ORDER BY n_chars DESC
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |            AS cum_ge
      |        FROM c),
      |hi AS (SELECT cum.lang, MAX(n_chars) AS hi
      |       FROM cum JOIN tot ON cum.lang = tot.lang
      |       WHERE cum_ge >= CEIL(n * 0.05) GROUP BY cum.lang),
      |lo AS (SELECT cum.lang, MAX(n_chars) AS lo
      |       FROM cum JOIN tot ON cum.lang = tot.lang
      |       WHERE cum_ge >= CEIL(n * 0.95) GROUP BY cum.lang)
      |SELECT d.lang AS lang, COUNT(*) AS n_docs,
      |  MAX(lo.lo) AS lo, MAX(hi.hi) AS hi,
      |  CAST(SUM(GREATEST(lo.lo, LEAST(hi.hi, d.n_chars))) AS BIGINT)
      |    AS sum_clipped,
      |  CAST(SUM(CASE WHEN d.n_chars < lo.lo THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_clipped_low,
      |  CAST(SUM(CASE WHEN d.n_chars > hi.hi THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_clipped_high
      |FROM documents d
      |JOIN hi ON d.lang = hi.lang JOIN lo ON d.lang = lo.lang
      |GROUP BY d.lang""".stripMargin

  // ---------------------------------------------------------------------
  // q94b_winsorize_cont — the continuous-score version of q94 (the q68b
  // pattern): the score n_chars + doc_id·1e-7 is unique per document, so
  // the per-(key, value) distinct table IS the corpus — exactly the
  // distribution where the discrete path's window becomes a per-stratum
  // corpus sort. Both tail thresholds must agree with DuckDB's naive
  // global-window order statistic to the row AND the bit (thresholds are
  // actual data values; both engines build the score with the same
  // IEEE-double ops). The gate pins the thresholds and the integer clip
  // counts — no float sum, so no cross-engine aggregation-order hazard.
  // ---------------------------------------------------------------------
  def q94bWinsorizeCont(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").withColumn("score",
      col("n_chars") + col("doc_id") * lit(1e-7))
    winsorizeContinuous(d, "lang", "score", 0.05)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        max(col("lo")).as("lo"),
        max(col("hi")).as("hi"),
        sum(when(col("score") < col("lo"), 1L).otherwise(0L))
          .as("n_clipped_low"),
        sum(when(col("score") > col("hi"), 1L).otherwise(0L))
          .as("n_clipped_high"))
  }

  val q94bWinsorizeContSql: String =
    """WITH d AS (SELECT lang, n_chars + doc_id * 1e-7 AS score
      |           FROM documents),
      |c AS (SELECT lang, score, COUNT(*) AS cnt FROM d GROUP BY 1, 2),
      |tot AS (SELECT lang, COUNT(*) AS n FROM d GROUP BY 1),
      |cum AS (SELECT lang, score,
      |          SUM(cnt) OVER (PARTITION BY lang ORDER BY score DESC
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |            AS cum_ge
      |        FROM c),
      |hi AS (SELECT cum.lang, MAX(score) AS hi
      |       FROM cum JOIN tot ON cum.lang = tot.lang
      |       WHERE cum_ge >= CEIL(n * 0.05) GROUP BY cum.lang),
      |lo AS (SELECT cum.lang, MAX(score) AS lo
      |       FROM cum JOIN tot ON cum.lang = tot.lang
      |       WHERE cum_ge >= CEIL(n * 0.95) GROUP BY cum.lang)
      |SELECT d.lang AS lang, COUNT(*) AS n_docs,
      |  MAX(lo.lo) AS lo, MAX(hi.hi) AS hi,
      |  CAST(SUM(CASE WHEN d.score < lo.lo THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_clipped_low,
      |  CAST(SUM(CASE WHEN d.score > hi.hi THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_clipped_high
      |FROM d JOIN hi ON d.lang = hi.lang JOIN lo ON d.lang = lo.lang
      |GROUP BY d.lang""".stripMargin

  // ---------------------------------------------------------------------
  // q95_url_domains — URL host extraction + normalization, the unit
  // underneath every domain-level curation decision (blocklists, per-
  // domain mixture rates à la q72, per-domain quality priors): pull the
  // authority out of the URL, lowercase it, strip the www. prefix and
  // any port. Pure regexp in the java-regex∩RE2 dialect (q86's
  // convention) — map-only until the final per-domain aggregate, one
  // shuffle on the normalized domain at any scale.
  // ---------------------------------------------------------------------
  private val UrlHostRe = "^[a-z]+://([^/:?#]+)"

  /** Adds a `domain` column: lowercased authority, www.-stripped,
    * port-free; NULL when `url` has no scheme://host shape. The scheme
    * match is case-insensitive (URI schemes are, RFC 3986 §3.1): the
    * whole URL is lowercased BEFORE the extract, so `HTTPS://Foo.com`
    * normalizes like `https://foo.com` instead of dropping to NULL. */
  def normalizeDomains(df: DataFrame): DataFrame =
    df.withColumn("domain", {
      val host = regexp_extract(lower(col("url")), UrlHostRe, 1)
      when(host =!= "", regexp_replace(host, "^www\\.", ""))
    })

  /** Gate corpus: deterministic messy URLs — mixed-case hosts AND
    * schemes (every 7th row shouts `HTTPS://`), optional WWW. prefix,
    * optional port, query strings; every 11th row is a schemeless string
    * that must normalize to NULL, not a bogus domain. */
  def q95UrlDomains(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val urls = d.select(col("doc_id"),
      when(col("doc_id") % 11 =!= 0, concat(
        when(col("doc_id") % 7 === 0, lit("HTTPS://"))
          .otherwise(lit("https://")),
        when(col("doc_id") % 3 === 0, lit("WWW.")).otherwise(lit("")),
        lit("Host"), (col("doc_id") % 20).cast("string"),
        lit(".Example.COM"),
        when(col("doc_id") % 5 === 0, lit(":8080")).otherwise(lit("")),
        lit("/p/"), col("doc_id").cast("string"), lit("?ref=x")))
        .otherwise(concat(lit("not a url "), col("doc_id").cast("string")))
        .as("url"))
    normalizeDomains(urls)
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"))
  }

  val q95UrlDomainsSql: String =
    """WITH urls AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 11 <> 0 THEN
      |      CASE WHEN doc_id % 7 = 0 THEN 'HTTPS://' ELSE 'https://' END ||
      |      CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END ||
      |      'Host' || (doc_id % 20) || '.Example.COM' ||
      |      CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END ||
      |      '/p/' || doc_id || '?ref=x'
      |    ELSE 'not a url ' || doc_id END AS url
      |  FROM documents),
      |n AS (SELECT doc_id,
      |        CASE WHEN regexp_extract(lower(url),
      |               '^[a-z]+://([^/:?#]+)', 1) <> ''
      |             THEN regexp_replace(regexp_extract(lower(url),
      |               '^[a-z]+://([^/:?#]+)', 1), '^www\.', '')
      |        END AS domain
      |      FROM urls)
      |SELECT domain, COUNT(*) AS n_docs, MIN(doc_id) AS min_id
      |FROM n GROUP BY domain""".stripMargin

  // ---------------------------------------------------------------------
  // q98_domain_blocklist — the operator every curation pipeline runs
  // right after domain extraction (q95): drop documents whose domain is
  // on a blocklist, with SUBDOMAIN-SUFFIX semantics — an entry
  // `example.com` blocks `example.com`, `a.example.com`, and
  // `deep.a.b.example.com`, but NOT `notexample.com` (matches only at
  // dot boundaries).
  //
  // Scale shape: each domain expands to its dot-boundary suffixes (≤
  // label count, a small constant) and the match is an EQUI-join of
  // those suffixes against the broadcast blocklist — a hash probe per
  // suffix, never a per-row scan of the list (the naive
  // `domain LIKE '%.' || entry` predicate is O(|blocklist|) per row and
  // can't be hash-joined). The matched ids (blocked docs ≪ corpus in
  // any sane pipeline) then anti-join the corpus — broadcastable, so
  // the corpus itself never shuffles. Docs with a NULL domain (q95's
  // schemeless rows) match nothing and survive: a blocklist can only
  // speak about domains it can name.
  // ---------------------------------------------------------------------

  /** All dot-boundary suffixes of a domain, incl. the full host:
    * `a.b.example.com` → [a.b.example.com, b.example.com, example.com,
    * com]. */
  private def domainSuffixes(domain: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val parts = split(domain, "\\.")
    transform(sequence(lit(1), size(parts)), i =>
      array_join(slice(parts, i, size(parts) - i + 1), "."))
  }

  /** Survivors of `docs` after blocklist filtering on `domainCol` with
    * subdomain-suffix matching. `blocklist`'s first column holds the
    * blocked domains (curated, bounded — it broadcasts). `idCol` is the
    * document key the blocked set anti-joins back on. */
  def blockByDomain(docs: DataFrame, idCol: String, domainCol: String,
      blocklist: DataFrame): DataFrame = {
    val entries = blocklist
      .select(col(blocklist.columns.head).as("__sfx")).distinct()
    val blockedIds = docs
      .select(col(idCol),
        explode(domainSuffixes(col(domainCol))).as("__sfx"))
      .join(broadcast(entries), Seq("__sfx"), "left_semi")
      .select(col(idCol)).distinct()
    docs.join(broadcast(blockedIds), Seq(idCol), "left_anti")
  }

  /** Gate corpus: the q95 URL generator re-pointed at four domain
    * families — direct subdomains of a blocked apex, an exact-entry
    * match among unblocked siblings, a never-blocked domain, and a
    * multi-level subdomain of the blocked apex; schemeless rows keep
    * their NULL domain and must survive. */
  def q98DomainBlocklist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = t(s, dir, "documents")
    val urls = d.select(col("doc_id"),
      when(col("doc_id") % 11 =!= 0, concat(
        lit("https://"),
        when(col("doc_id") % 4 === 0,
          concat(lit("sub"), (col("doc_id") % 5).cast("string"),
            lit(".blocked.net")))
          .when(col("doc_id") % 4 === 1,
            concat(lit("host"), (col("doc_id") % 7).cast("string"),
              lit(".example.com")))
          .when(col("doc_id") % 4 === 2, lit("safe.org"))
          .otherwise(lit("deep.a.b.blocked.net")),
        lit("/p/"), col("doc_id").cast("string")))
        .otherwise(concat(lit("not a url "), col("doc_id").cast("string")))
        .as("url"))
    val blocklist = Seq("blocked.net", "host3.example.com")
      .toDF("entry")
    blockByDomain(normalizeDomains(urls), "doc_id", "domain", blocklist)
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"))
  }

  val q98DomainBlocklistSql: String =
    """WITH urls AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 11 <> 0 THEN
      |      'https://' ||
      |      CASE WHEN doc_id % 4 = 0
      |             THEN 'sub' || (doc_id % 5) || '.blocked.net'
      |           WHEN doc_id % 4 = 1
      |             THEN 'host' || (doc_id % 7) || '.example.com'
      |           WHEN doc_id % 4 = 2 THEN 'safe.org'
      |           ELSE 'deep.a.b.blocked.net' END ||
      |      '/p/' || doc_id
      |    ELSE 'not a url ' || doc_id END AS url
      |  FROM documents),
      |n AS (SELECT doc_id,
      |        CASE WHEN regexp_extract(lower(url),
      |               '^[a-z]+://([^/:?#]+)', 1) <> ''
      |             THEN regexp_replace(regexp_extract(lower(url),
      |               '^[a-z]+://([^/:?#]+)', 1), '^www\.', '')
      |        END AS domain
      |      FROM urls),
      |b AS (SELECT * FROM (VALUES ('blocked.net'), ('host3.example.com'))
      |      AS t(entry))
      |SELECT domain, COUNT(*) AS n_docs, MIN(doc_id) AS min_id
      |FROM n
      |WHERE domain IS NULL OR NOT EXISTS (
      |  SELECT 1 FROM b
      |  WHERE n.domain = b.entry OR n.domain LIKE '%.' || b.entry)
      |GROUP BY domain""".stripMargin

  // ---------------------------------------------------------------------
  // q111_term_blocklist — word-boundary term-blocklist filtering: the
  // bad-words pass every public curation pipeline runs (C4's banned-word
  // list, Raffel et al. JMLR 2020 §2.2). A doc is blocked when any
  // blocklist TERM appears as a whole whitespace token — substring hits
  // inside other words don't count (the classic "Scunthorpe" failure of
  // `text LIKE '%term%'`).
  //
  // Scale shape: the token stream filters to blocklist hits BEFORE any
  // shuffle (isInCollection over a bounded literal set compiles to a
  // hash-set probe inside the scan's codegen), so the groupBy shuffles
  // only matching (doc, term) rows — a vanishing fraction of the corpus.
  // The audit aggregate carries a per-doc sorted term list, bounded by
  // |blocklist|. Survivor filtering is the q98 anti-join: blocked ids ≪
  // corpus, broadcast, corpus never shuffles.
  // ---------------------------------------------------------------------

  /** Per-doc audit of whole-token blocklist matches: one row per BLOCKED
    * doc with hit count, distinct-term count, and the sorted matched
    * terms. Docs with no hits don't appear (they're the survivors). */
  def matchBlockedTerms(docs: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "empty blocklist blocks nothing")
    docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("__tok"))
      .filter(col("__tok").isInCollection(terms))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"),
        countDistinct(col("__tok")).as("n_terms"),
        array_join(array_sort(collect_set(col("__tok"))), "_")
          .as("terms"))
  }

  /** Survivors of whole-token blocklist filtering. */
  def blockByTerms(docs: DataFrame, terms: Seq[String]): DataFrame = {
    val blocked = matchBlockedTerms(docs, terms).select(col("doc_id"))
    docs.join(broadcast(blocked), Seq("doc_id"), "left_anti")
  }

  /** Gate corpus: blocklist terms planted as whole tokens into two doc
    * families, plus a SUBSTRING-only family (`xbadword` glued into a
    * longer token) that must NOT match — the word-boundary semantics
    * under test. Audit rows for blocked docs + a survivor summary row. */
  def q111TermBlocklist(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val planted = d.select(col("doc_id"),
      when(col("doc_id") % 41 === 0,
          concat(col("text"), lit(" xbadword")))
        .when(col("doc_id") % 43 === 0,
          concat(lit("xspam xbadword "), col("text")))
        .when(col("doc_id") % 47 === 0,
          concat(col("text"), lit(" prefixbadwordsuffix")))
        .otherwise(col("text")).as("text"))
    val audit = matchBlockedTerms(planted, Seq("xbadword", "xspam"))
      .select(col("doc_id"), col("n_hits"), col("n_terms"), col("terms"))
    val survivors = blockByTerms(planted, Seq("xbadword", "xspam"))
      .agg(count(lit(1)).as("n_hits"))
      .select(lit(-1L).as("doc_id"), col("n_hits"),
        lit(0L).as("n_terms"), lit("__survivors__").as("terms"))
    audit.unionByName(survivors)
  }

  val q111TermBlocklistSql: String =
    """WITH planted AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 41 = 0 THEN text || ' xbadword'
      |         WHEN doc_id % 43 = 0 THEN 'xspam xbadword ' || text
      |         WHEN doc_id % 47 = 0 THEN text || ' prefixbadwordsuffix'
      |         ELSE text END AS text
      |  FROM documents),
      |hits AS (
      |  SELECT doc_id, tok
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |        FROM planted)
      |  WHERE tok IN ('xbadword', 'xspam')),
      |audit AS (
      |  SELECT doc_id, COUNT(*) AS n_hits,
      |    COUNT(DISTINCT tok) AS n_terms,
      |    list_aggregate(list_sort(list(DISTINCT tok)), 'string_agg', '_')
      |      AS terms
      |  FROM hits GROUP BY doc_id)
      |SELECT doc_id, n_hits, n_terms, terms FROM audit
      |UNION ALL
      |SELECT -1 AS doc_id,
      |  (SELECT COUNT(*) FROM planted
      |   WHERE doc_id NOT IN (SELECT doc_id FROM audit)) AS n_hits,
      |  0 AS n_terms, '__survivors__' AS terms""".stripMargin

  def q68QualityPrune(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val thr = quantileThresholds(d, "lang", "n_chars", 0.5)
      .select(col("lang"), col("threshold"))
    d.join(broadcast(thr), "lang")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_chars") >= col("threshold"), 1L).otherwise(0L))
          .as("n_kept"),
        max(col("threshold")).as("threshold"))
  }

  val q68QualityPruneSql: String =
    """WITH c AS (SELECT lang, n_chars, COUNT(*) AS cnt
      |           FROM documents GROUP BY 1, 2),
      |tot AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
      |cum AS (SELECT lang, n_chars,
      |          SUM(cnt) OVER (PARTITION BY lang ORDER BY n_chars DESC
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |            AS cum_ge
      |        FROM c),
      |thr AS (SELECT cum.lang, MAX(n_chars) AS threshold
      |        FROM cum JOIN tot ON cum.lang = tot.lang
      |        WHERE cum_ge >= CAST(CEIL(n * 0.5) AS BIGINT)
      |        GROUP BY cum.lang)
      |SELECT d.lang, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN d.n_chars >= t.threshold THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_kept,
      |  MAX(t.threshold) AS threshold
      |FROM documents d JOIN thr t ON d.lang = t.lang
      |GROUP BY d.lang""".stripMargin

  // ---------------------------------------------------------------------
  // q68b_quality_prune_cont — the continuous-score version of q68: the
  // score n_chars + doc_id·1e-7 is unique per document (per-(key, value)
  // distinct table = the corpus), which is exactly the distribution that
  // makes the discrete path's window corpus-sized. The two-level
  // decomposition must agree with DuckDB's naive global-window order
  // statistic to the row AND the bit (the threshold is an actual data
  // value; both engines compute the score with the same IEEE-double ops).
  // ---------------------------------------------------------------------
  def q68bQualityPruneCont(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").withColumn("score",
      col("n_chars") + col("doc_id") * lit(1e-7))
    val thr = quantileThresholdsContinuous(d, "lang", "score", 0.5)
      .select(col("lang"), col("threshold"))
    d.join(broadcast(thr), "lang")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("score") >= col("threshold"), 1L).otherwise(0L))
          .as("n_kept"),
        max(col("threshold")).as("threshold"))
  }

  val q68bQualityPruneContSql: String =
    """WITH d AS (SELECT lang, n_chars + doc_id * 1e-7 AS score
      |           FROM documents),
      |c AS (SELECT lang, score, COUNT(*) AS cnt FROM d GROUP BY 1, 2),
      |tot AS (SELECT lang, COUNT(*) AS n FROM d GROUP BY 1),
      |cum AS (SELECT lang, score,
      |          SUM(cnt) OVER (PARTITION BY lang ORDER BY score DESC
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |            AS cum_ge
      |        FROM c),
      |thr AS (SELECT cum.lang, MAX(score) AS threshold
      |        FROM cum JOIN tot ON cum.lang = tot.lang
      |        WHERE cum_ge >= CAST(CEIL(n * 0.5) AS BIGINT)
      |        GROUP BY cum.lang)
      |SELECT d.lang, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN d.score >= t.threshold THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_kept,
      |  MAX(t.threshold) AS threshold
      |FROM d JOIN thr t ON d.lang = t.lang
      |GROUP BY d.lang""".stripMargin

  // ---------------------------------------------------------------------
  // q72_domain_mix — training-mixture sampling: every source domain gets a
  // target inclusion percentage (the mixture spec — here derived from the
  // source id; in production a curated table), and membership is decided
  // by an md5 bucket of the doc id against that percentage. Hash-gated
  // mixing is the production shape (reproducible; a doc's membership is
  // independent of the rest of the corpus, so the mixture is stable under
  // corpus growth and incremental reruns).
  //
  // Scale design: the spec is a per-domain table (tiny by construction)
  // broadcast to a map-only filter over the corpus — one aggregate
  // shuffle for the report, zero shuffles for the sampling itself.
  // ---------------------------------------------------------------------
  def q72DomainMix(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val spec = d.select(col("source")).distinct()
      .withColumn("pct",
        lit(25L) + lit(5L) * (substring(col("source"), 4, 10).cast("long") % 8))
    val bucket = conv(substring(md5(col("doc_id").cast("string")
      .cast("binary")), 1, 8), 16, 10).cast("long") % 100
    d.join(broadcast(spec), "source")
      .withColumn("keep", bucket < col("pct"))
      .groupBy(col("source"), col("pct"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"))
  }

  val q72DomainMixSql: String =
    """WITH spec AS (SELECT DISTINCT source,
      |    25 + 5 * (CAST(substring(source, 4) AS BIGINT) % 8) AS pct
      |  FROM documents)
      |SELECT d.source, spec.pct, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN
      |    CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
      |      AS BIGINT) % 100 < spec.pct THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_sampled
      |FROM documents d JOIN spec USING (source)
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // q73_vocab_prune — vocabulary pruning / OOV masking: build the corpus
  // term-frequency table, mark words under 1% of total token mass as
  // out-of-vocabulary, and rewrite every document with those tokens
  // replaced by <unk> — the classic closed-vocabulary preprocessing pass.
  // The rewritten text must preserve token ORDER, so the reassembly is the
  // interesting relational part: posexplode → per-token broadcast join
  // against the kept vocabulary → order-restoring re-aggregation
  // (sort_array over (pos, token) structs). The gate hashes the rebuilt
  // text (md5 is engine-neutral), so a single out-of-order token fails.
  //
  // Scale design: two corpus passes (count, rewrite), both map-side until
  // their aggregate. The broadcast side is the KEPT set (tokens with ≥1%
  // of token mass — at most 100 rows BY CONSTRUCTION), never the OOV set:
  // in a realistic corpus almost the whole vocabulary is sub-threshold,
  // so broadcasting the rare side would ship ~|vocab| rows (an OOM at the
  // 100 TB target); a token is OOV iff it misses the kept set, the same
  // predicate from the bounded side. No window over the corpus: the
  // re-aggregation groups by doc_id (corpus-proportional cardinality).
  // ---------------------------------------------------------------------
  def q73VocabPrune(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val words = d.select(col("doc_id"),
      posexplode(split(col("text"), " "))).toDF("doc_id", "pos", "w")
    val counts = words.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("tot"))
    val kept = counts.crossJoin(broadcast(total))
      .filter(col("cnt") * 100 >= col("tot"))
      .select(col("w"), lit(true).as("is_kept"))
    words.join(broadcast(kept), Seq("w"), "left_outer")
      .withColumn("w2",
        when(col("is_kept").isNull, lit("<unk>")).otherwise(col("w")))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("is_kept").isNull, 1L).otherwise(0L)).as("n_unk"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("w2")))),
            x => x.getField("w2")), " ").cast("binary")).as("pruned_md5"))
  }

  val q73VocabPruneSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
      |           FROM documents),
      |wd AS (SELECT doc_id, i AS pos, ws[i] AS w
      |       FROM t, UNNEST(range(1, len(ws) + 1)) AS gg(i)),
      |c AS (SELECT w, COUNT(*) AS cnt FROM wd GROUP BY 1),
      |tot AS (SELECT SUM(cnt) AS tot FROM c),
      |rare AS (SELECT w AS rw FROM c, tot WHERE cnt * 100 < tot)
      |SELECT doc_id, COUNT(*) AS n_tokens,
      |  CAST(SUM(CASE WHEN rw IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_unk,
      |  md5(string_agg(CASE WHEN rw IS NOT NULL THEN '<unk>' ELSE w END,
      |      ' ' ORDER BY pos)) AS pruned_md5
      |FROM wd LEFT JOIN rare ON wd.w = rare.rw
      |GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q74_keywords — per-document keyword extraction, tf-idf-shaped but
  // integer-only: rank a document's terms by term frequency descending,
  // break ties by document frequency ascending (rarer-in-corpus wins —
  // the idf direction without the float), then by term; keep the top 3.
  // Integer ordering keys make the gate immune to cross-engine ln()/
  // division drift that a literal tf·idf score would carry.
  //
  // Scale design: tf is one shuffle on (doc, term); df is an aggregate
  // over the tf table (bounded by |vocab|·|docs| but shrunk before the
  // join, which broadcasts the |vocab|-row df side). The top-3 window
  // partitions by doc_id — corpus-proportional cardinality, so no
  // low-cardinality funnel (the q65/q68 lesson does not apply).
  // ---------------------------------------------------------------------
  def q74Keywords(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val words = d.select(col("doc_id"),
      explode(split(col("text"), " ")).as("w"))
    val tf = words.groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val dfTab = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("w").asc)
    tf.join(broadcast(dfTab), "w")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("w").as("keyword"),
        col("tf"), col("df"))
  }

  val q74KeywordsSql: String =
    """WITH wd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |            FROM documents),
      |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM wd GROUP BY 1, 2),
      |dfq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1)
      |SELECT doc_id, CAST(rnk AS INT) AS rnk, w AS keyword, tf, df FROM (
      |  SELECT tf.doc_id, tf.w, tf.tf, dfq.df,
      |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
      |      ORDER BY tf.tf DESC, dfq.df ASC, tf.w ASC) AS rnk
      |  FROM tf JOIN dfq USING (w))
      |WHERE rnk <= 3""".stripMargin

  // ---------------------------------------------------------------------
  // q89_chunking — overlapping context-window chunking: split each doc
  // into C-word chunks on an S = C - O stride so consecutive chunks share
  // O words (the standard long-document → training-sequence shaping; the
  // overlap preserves cross-boundary context). Chunk COUNT is closed-form
  // integer arithmetic — 1 + (max(n - O - 1, 0) div S) — so no chunk is a
  // pure suffix of its predecessor and every word is covered; the final
  // chunk may be short. Map-only: split → explode(sequence) → slice; zero
  // shuffles at any scale (plan-guarded), rows ∝ chunks not words².
  // ---------------------------------------------------------------------

  /** One row per (doc_id, chunk_id): n_chunk_words + the chunk text.
    * `chunkWords` = C, `overlap` = O, stride = C - O. */
  def chunkDocs(docs: DataFrame, chunkWords: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkWords,
      s"overlap $overlap must be in [0, $chunkWords)")
    val stride = chunkWords - overlap
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("n", size(col("ws")).cast("long"))
      .withColumn("n_chunks",
        lit(1L) + expr(s"greatest(n - ${overlap + 1}, 0L) div $stride"))
      .select(col("doc_id"), col("ws"), col("n"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        least(lit(chunkWords.toLong), col("n") - col("chunk_id") * stride)
          .as("n_chunk_words"),
        array_join(slice(col("ws"),
          (col("chunk_id") * stride + 1).cast("int"), lit(chunkWords)), " ")
          .as("chunk_text"))
  }

  def q89Chunking(s: SparkSession, dir: String): DataFrame =
    chunkDocs(t(s, dir, "documents"), 32, 8)

  val q89ChunkingSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
      |           FROM documents),
      |c AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n,
      |        1 + (GREATEST(CAST(len(ws) AS BIGINT) - 9, 0) // 24)
      |          AS n_chunks
      |      FROM t)
      |SELECT doc_id, k AS chunk_id,
      |  LEAST(32, n - k * 24) AS n_chunk_words,
      |  array_to_string(list_slice(ws, CAST(k * 24 + 1 AS INTEGER),
      |    CAST(k * 24 + 32 AS INTEGER)), ' ') AS chunk_text
      |FROM c, UNNEST(range(0, n_chunks)) AS g(k)""".stripMargin

  // ---------------------------------------------------------------------
  // q86_pii_redact — PII detection + redaction, the standard pre-training
  // scrub (C4/Dolma-style): count and replace emails, dotted-quad IPs, and
  // NANP-style phone numbers with typed tags. Pure `regexp_replace` /
  // `regexp_extract_all` — single codegen'd scan, no UDF, map-only (no
  // shuffle at any scale). The patterns stay inside the regex subset whose
  // semantics are identical between java.util.regex (Spark) and RE2
  // (DuckDB): character classes, bounded repetition, ASCII `\b` — no
  // backreferences, no lookaround — so the oracle checks the redacted
  // STRING byte-for-byte, not just the counts.
  // ---------------------------------------------------------------------
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b555-\\d{4}\\b"

  /** Adds n_email/n_ip/n_phone counts and a `redacted` text column.
    * Replacement order matters and is fixed (email → ip → phone) so a
    * dotted substring already consumed by the email rule is never
    * double-redacted. */
  def redactPii(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_email",
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
          .cast("long"))
      .withColumn("n_ip",
        size(regexp_extract_all(col("text"), lit(Ipv4Re), lit(0)))
          .cast("long"))
      .withColumn("n_phone",
        size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0)))
          .cast("long"))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(col("text"), EmailRe, "<EMAIL>"),
            Ipv4Re, "<IP>"),
          PhoneRe, "<PHONE>"))

  /** Gate corpus: every 3rd document gets a deterministic PII tail
    * (doc_id-derived email, IP, phone); the rest pass through clean, so
    * zero-count rows are part of what the oracle checks. */
  def q86PiiRedact(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val planted = d.select(col("doc_id"),
      when(col("doc_id") % 3 === 0, concat(
        col("text"),
        lit(" reach user"), col("doc_id").cast("string"),
        lit("@mail"), (col("doc_id") % 7).cast("string"), lit(".org"),
        lit(" from 10."), (col("doc_id") % 200).cast("string"),
        lit(".0."), (col("doc_id") % 250).cast("string"),
        lit(" call 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" end"))).otherwise(col("text")).as("text"))
    redactPii(planted)
      .select(col("doc_id"), col("n_email"), col("n_ip"), col("n_phone"),
        col("redacted"))
  }

  val q86PiiRedactSql: String =
    """WITH corpus AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN
      |      text || ' reach user' || doc_id ||
      |      '@mail' || (doc_id % 7) || '.org' ||
      |      ' from 10.' || (doc_id % 200) || '.0.' || (doc_id % 250) ||
      |      ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |      || ' end'
      |    ELSE text END AS text
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
      |    AS n_email,
      |  CAST(len(regexp_extract_all(text,
      |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
      |  CAST(len(regexp_extract_all(text, '\b555-\d{4}\b')) AS BIGINT)
      |    AS n_phone,
      |  regexp_replace(regexp_replace(regexp_replace(text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
      |    '\b555-\d{4}\b', '<PHONE>', 'g') AS redacted
      |FROM corpus""".stripMargin

  /** Per-group TRIMMED MEAN: drop both `tail` fractions by the exact
    * positional thresholds (both from ONE bucketed
    * [[OrderStats.twoTail]] pass), then an exact decimal
    * mean of the survivors — the robust location estimate that, unlike
    * q152's median, still uses every central observation. The kept set
    * is a deterministic value-range filter (thresholds are actual data
    * values), so n_kept is integer-exact and the mean is
    * decimal-sum/count — no float fold anywhere before the final
    * division. */
  def trimmedMean(df: DataFrame, key: String, value: String,
      tail: Double): DataFrame = {
    val th = OrderStats
      .twoTail(df, key, value, tail, Some(OrderStats.DefaultBuckets))
      .withColumnRenamed("n", "n_total")
    df.join(broadcast(th), key)
      .filter(col(value) >= col("lo") && col(value) <= col("hi"))
      .groupBy(col(key), col("n_total"))
      .agg(count(lit(1)).as("n_kept"),
        round(sumDec(col(value)) / count(lit(1)).cast("double"), 6)
          .as("trimmed_mean"))
      .select(col(key), col("n_total"), col("n_kept"),
        col("trimmed_mean"))
  }

  // ---------------------------------------------------------------------
  // q174_trimmed_mean — 10%-trimmed account-balance mean per market
  // segment; the oracle re-derives both positional thresholds with the
  // q152 RANGE-window rule and the identical decimal mean.
  // ---------------------------------------------------------------------
  def q174TrimmedMean(s: SparkSession, dir: String): DataFrame =
    trimmedMean(t(s, dir, "customer"), "c_mktsegment", "c_acctbal", 0.1)

  val q174TrimmedMeanSql: String =
    """WITH r AS (
      |  SELECT c_mktsegment AS g, c_acctbal AS x,
      |    COUNT(*) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal
      |      DESC RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS cum_ge,
      |    COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
      |  FROM customer),
      |th AS (
      |  SELECT g, MAX(n) AS n_total,
      |    MAX(x) FILTER (WHERE cum_ge >= CEIL(n * 0.1)) AS hi,
      |    MAX(x) FILTER (WHERE cum_ge >= CEIL(n * 0.9)) AS lo
      |  FROM r GROUP BY g)
      |SELECT th.g AS c_mktsegment, CAST(th.n_total AS BIGINT) AS n_total,
      |  COUNT(*) AS n_kept,
      |  ROUND(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE), 6) AS trimmed_mean
      |FROM customer c JOIN th ON c.c_mktsegment = th.g
      |WHERE c.c_acctbal >= th.lo AND c.c_acctbal <= th.hi
      |GROUP BY th.g, th.n_total""".stripMargin

  /** Full URL canonicalization — the dedup key for crawl frontiers and
    * per-page dedup, one step past q95's domain extraction: two URLs
    * that differ only in scheme/host case, a `www.` prefix, a default
    * port, a fragment, tracking parameters, or a trailing slash are the
    * SAME page. Rules, in order:
    *   1. cut the fragment (`#...`);
    *   2. no scheme → NULL (the q95 contract: not a URL);
    *   3. split base/query at the first `?`;
    *   4. lowercase scheme+authority (path/query case is meaningful);
    *   5. drop a `www.` prefix and the scheme-default port
    *      (`https::443`, `http::80` — other ports are kept);
    *   6. strip trailing slashes from the path;
    *   7. drop tracking parameters (`utm_*`, `ref`, `fbclid`) — done by
    *      SPLIT + FILTER + REJOIN on `&` (higher-order functions, not
    *      regex surgery: deleting a leading `?utm=..&` pair by regex
    *      leaves separator artifacts; a list filter cannot), dropping
    *      the `?` entirely when nothing survives.
    * Regex steps stay in the java∩RE2 dialect (the q86 discipline — no
    * lookaheads). Map-only; the canonical key then feeds exact dedup.
    */
  def canonicalizeUrls(df: DataFrame): DataFrame = {
    val noFrag = regexp_replace(col("url"), "#.*$", "")
    val hasScheme = noFrag.rlike("^[A-Za-z][A-Za-z0-9+.-]*://")
    val base0 = expr("substring_index(regexp_replace(url, '#.*$', ''), '?', 1)")
    val qpos = instr(noFrag, "?")
    val qpart = when(qpos > 0,
      substring_index(noFrag, "?", -1)).otherwise(lit(""))
    // lowercase scheme://authority, keep the rest as-is
    val auth = regexp_extract(base0, "^([^/]*://[^/?#]*)", 1)
    val rest = regexp_replace(base0, "^[^/]*://[^/?#]*", "")
    val lowered = concat(lower(auth), rest)
    val noWww = regexp_replace(lowered, "://www\\.", "://")
    val noPort = regexp_replace(
      regexp_replace(noWww, "^(https://[^/:]+):443(/|$)", "$1$2"),
      "^(http://[^/:]+):80(/|$)", "$1$2")
    val noSlash = regexp_replace(noPort, "/+$", "")
    val kept = filter(split(qpart, "&"), p =>
      !(p.startsWith("utm_") || p.startsWith("ref=") ||
        p.startsWith("fbclid=") || p === ""))
    val canon = when(size(kept) > 0,
      concat(noSlash, lit("?"), array_join(kept, "&")))
      .otherwise(noSlash)
    df.withColumn("canonical_url", when(hasScheme, canon))
  }

  // ---------------------------------------------------------------------
  // q173_url_canonicalize — deterministic messy variants (case-shouted
  // schemes/hosts, WWW., :443, trailing slash, fragments, tracking
  // params in LEADING and trailing positions) must collapse to their
  // canonical page key; schemeless rows stay NULL. The gate groups by
  // canonical and counts variants — any rule diverging between engines
  // splits a group and hash-fails.
  // ---------------------------------------------------------------------
  def q173UrlCanonicalize(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val urls = d.select(col("doc_id"),
      when(col("doc_id") % 11 =!= 0, concat(
        when(col("doc_id") % 7 === 0, lit("HTTPS://"))
          .otherwise(lit("https://")),
        when(col("doc_id") % 3 === 0, lit("WWW.")).otherwise(lit("")),
        lit("Host"), (col("doc_id") % 10).cast("string"),
        lit(".Example.COM"),
        when(col("doc_id") % 5 === 0, lit(":443")).otherwise(lit("")),
        lit("/p/"), (col("doc_id") % 25).cast("string"),
        when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          concat(lit("?utm_source=feed&id="),
            (col("doc_id") % 25).cast("string")))
          .otherwise(concat(lit("?id="), (col("doc_id") % 25).cast("string"),
            when(col("doc_id") % 6 === 0, lit("&ref=tw"))
              .otherwise(lit("")))),
        when(col("doc_id") % 9 === 0, lit("#frag")).otherwise(lit(""))))
        .otherwise(concat(lit("not a url "), col("doc_id").cast("string")))
        .as("url"))
    canonicalizeUrls(urls)
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_variants"), min(col("doc_id")).as("min_id"))
  }

  val q173UrlCanonicalizeSql: String =
    """WITH urls AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 11 <> 0 THEN
      |      CASE WHEN doc_id % 7 = 0 THEN 'HTTPS://' ELSE 'https://' END ||
      |      CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END ||
      |      'Host' || (doc_id % 10) || '.Example.COM' ||
      |      CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END ||
      |      '/p/' || (doc_id % 25) ||
      |      CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
      |      CASE WHEN doc_id % 4 = 0
      |        THEN '?utm_source=feed&id=' || (doc_id % 25)
      |        ELSE '?id=' || (doc_id % 25) ||
      |          CASE WHEN doc_id % 6 = 0 THEN '&ref=tw' ELSE '' END END ||
      |      CASE WHEN doc_id % 9 = 0 THEN '#frag' ELSE '' END
      |    ELSE 'not a url ' || doc_id END AS url
      |  FROM documents),
      |s1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u,
      |         url FROM urls),
      |s2 AS (
      |  SELECT doc_id,
      |    CASE WHEN regexp_matches(u, '^[A-Za-z][A-Za-z0-9+.-]*://')
      |      THEN u END AS u
      |  FROM s1),
      |s3 AS (
      |  SELECT doc_id, u,
      |    CASE WHEN strpos(u, '?') > 0
      |      THEN split_part(u, '?', 1) ELSE u END AS base0,
      |    CASE WHEN strpos(u, '?') > 0
      |      THEN substring(u, strpos(u, '?') + 1) ELSE '' END AS qpart
      |  FROM s2 WHERE u IS NOT NULL),
      |s4 AS (
      |  SELECT doc_id, qpart,
      |    lower(regexp_extract(base0, '^([^/]*://[^/?#]*)', 1)) ||
      |      regexp_replace(base0, '^[^/]*://[^/?#]*', '') AS b
      |  FROM s3),
      |s5 AS (
      |  SELECT doc_id, qpart,
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(
      |          regexp_replace(b, '://www\.', '://'),
      |          '^(https://[^/:]+):443(/|$)', '\1\2'),
      |        '^(http://[^/:]+):80(/|$)', '\1\2'),
      |      '/+$', '') AS b
      |  FROM s4),
      |s6 AS (
      |  SELECT doc_id,
      |    list_filter(string_split(qpart, '&'),
      |      p -> NOT (starts_with(p, 'utm_') OR starts_with(p, 'ref=')
      |        OR starts_with(p, 'fbclid=') OR p = '')) AS kept, b
      |  FROM s5),
      |canon AS (
      |  SELECT doc_id,
      |    CASE WHEN len(kept) > 0
      |      THEN b || '?' || array_to_string(kept, '&') ELSE b END
      |      AS canonical_url
      |  FROM s6),
      |alln AS (
      |  SELECT u.doc_id, c.canonical_url
      |  FROM urls u LEFT JOIN canon c ON u.doc_id = c.doc_id)
      |SELECT canonical_url, COUNT(*) AS n_variants,
      |  MIN(doc_id) AS min_id
      |FROM alln GROUP BY canonical_url""".stripMargin

  // ---------------------------------------------------------------------
  // q161_curation_pipeline — the whole curation chain as ONE declarative
  // DAG, gate-checked end to end: exact dedup (keep the smallest doc_id
  // per md5(text) — content-hash identity) → quality gate (length band +
  // minimum word count, the cheap Gopher-style pre-filter) → q63's
  // stable hash split → per-(lang, split) doc and token counts. The
  // point the gate pins: composing the operators does NOT change any
  // individual operator's semantics — the oracle rebuilds the identical
  // chain in SQL and every count must survive all three stages exactly.
  //
  // Scale shape: dedup is the one shuffle (on the content hash, via a
  // per-hash min-id window); quality gate and split are map-only on the
  // survivors; the final aggregate is |langs|·|splits| rows. Catalyst
  // fuses the whole chain into scan → shuffle → codegen stages — the
  // declarative-DAG payoff: no materialization between stages.
  // ---------------------------------------------------------------------
  def curationPipeline(docs: DataFrame, minChars: Long, maxChars: Long,
      minWords: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = docs.withColumn("__h", md5(col("text").cast("binary")))
    val keep = Window.partitionBy(col("__h"))
      .orderBy(col("doc_id").asc)
    val deduped = keyed
      .withColumn("__rn", row_number().over(keep))
      .filter(col("__rn") === 1)
    val quality = deduped
      .withColumn("__nw", size(split(col("text"), " ")).cast("long"))
      .filter(col("n_chars") >= minChars && col("n_chars") <= maxChars &&
        col("__nw") >= minWords)
    val bucket = conv(substring(md5(col("doc_id").cast("string")
      .cast("binary")), 1, 2), 16, 10).cast("int")
    quality
      .withColumn("split",
        when(bucket < 230, lit("train")).otherwise(lit("val")))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__nw")).as("n_tokens"))
  }

  def q161CurationPipeline(s: SparkSession, dir: String): DataFrame =
    curationPipeline(t(s, dir, "documents"),
      minChars = 50L, maxChars = 5000L, minWords = 8)

  val q161CurationPipelineSql: String =
    """WITH deduped AS (
      |  SELECT * FROM (
      |    SELECT doc_id, text, lang, n_chars,
      |      ROW_NUMBER() OVER (PARTITION BY md5(text)
      |        ORDER BY doc_id ASC) AS rn
      |    FROM documents)
      |  WHERE rn = 1),
      |quality AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nw
      |  FROM deduped
      |  WHERE n_chars >= 50 AND n_chars <= 5000
      |    AND len(string_split(text, ' ')) >= 8)
      |SELECT lang,
      |  CASE WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
      |            1, 2) AS INT) < 230
      |       THEN 'train' ELSE 'val' END AS split,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(nw) AS BIGINT) AS n_tokens
      |FROM quality
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // q162_temperature_mix — temperature-weighted source sampling: the
  // multilingual/multi-source rebalancing rule (sample source i with
  // probability ∝ mass_i^α, α<1 upweights the tail — the mT5/XLM-R
  // recipe, Conneau et al. 2020 §3). α is fixed at 1/2 so the power is
  // `sqrt` — IEEE-exact (correctly rounded) in every engine, unlike
  // libm pow — and the normalizer folds over the source-sorted list
  // (q92 discipline), so the weight doubles hash exactly.
  //
  // Scale shape: one shuffle to |sources| rows; everything after is on
  // that table. The weights feed q72's mixture sampler.
  // ---------------------------------------------------------------------
  def temperatureMix(docs: DataFrame, source: String): DataFrame = {
    val mass = docs
      .withColumn("__nw", size(split(col("text"), " ")).cast("long"))
      .groupBy(col(source)).agg(sum(col("__nw")).as("n_tokens"))
    val z = mass
      .agg(sort_array(collect_list(struct(col(source).as("s"),
        sqrt(col("n_tokens").cast("double")).as("r")))).as("xs"))
      .select(aggregate(col("xs"), lit(0.0d),
        (a, x) => a + x.getField("r")).as("z"))
    mass.crossJoin(broadcast(z))
      .select(col(source), col("n_tokens"),
        round(sqrt(col("n_tokens").cast("double")) / col("z"), 6)
          .as("weight"))
  }

  def q162TemperatureMix(s: SparkSession, dir: String): DataFrame =
    temperatureMix(t(s, dir, "documents"), "source")

  val q162TemperatureMixSql: String =
    """WITH mass AS (
      |  SELECT source,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |z AS (
      |  SELECT list_reduce(
      |    list_prepend(0.0::DOUBLE,
      |      list(sqrt(CAST(n_tokens AS DOUBLE)) ORDER BY source)),
      |    (a, b) -> a + b) AS z
      |  FROM mass)
      |SELECT source, n_tokens,
      |  ROUND(sqrt(CAST(n_tokens AS DOUBLE)) / z.z, 6) AS weight
      |FROM mass CROSS JOIN z""".stripMargin

  /** K-ANONYMITY suppression — the release gate a dataset passes before
    * quasi-identifier columns (the PII-adjacent ones q86's redaction
    * does NOT touch: demographics, coarse location, account buckets)
    * can ship: any combination of quasi values shared by fewer than `k`
    * rows re-identifies, so those rows' quasi columns are suppressed
    * (NULLed) as a group. One shuffle: group sizes by the quasi tuple,
    * broadcast-or-shuffle joined back (Spark picks by stats), then a
    * map-only conditional NULL-out — never a row explosion, and rows
    * are PRESERVED (count in == count out; only identifiability drops).
    * `suppressed` marks the affected rows for the release audit. */
  def kAnonymize(df: DataFrame, quasi: Seq[String], k: Long): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val sizes = df.groupBy(quasi.map(col): _*)
      .agg(count(lit(1)).as("__gsize"))
      .select(quasi.map(c => col(c).as(s"__q_$c")) :+ col("__gsize"): _*)
    // null-safe join keys: a NULL quasi value is itself a group
    val cond = quasi.map(c => col(c) <=> col(s"__q_$c")).reduce(_ && _)
    val joined = df.join(sizes, cond)
    val keep = col("__gsize") >= k
    val out = df.columns.map {
      case c if quasi.contains(c) => when(keep, col(c)).as(c)
      case c => col(c)
    }
    joined.select(out.toSeq :+ (!keep).as("suppressed"): _*)
  }

  // ---------------------------------------------------------------------
  // q176_k_anonymity — release audit over customers with quasi tuple
  // (nation, segment, acctbal rounded to 1000s): k=3 suppression, then
  // the released-group size distribution. Fine acctbal buckets plant
  // real sub-k groups; every surviving group must have n >= 3 and the
  // suppressed mass collapses into the all-NULL group — a missed or
  // extra suppression splits a group and hash-fails.
  // ---------------------------------------------------------------------
  def q176KAnonymity(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        (floor(col("c_acctbal") / 1000.0) * 1000).cast("long")
          .as("balance_band"))
    kAnonymize(c, Seq("c_nationkey", "c_mktsegment", "balance_band"), 3L)
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        col("balance_band"), col("suppressed"))
      .agg(count(lit(1)).as("n"), min(col("c_custkey")).as("min_key"))
  }

  val q176KAnonymitySql: String =
    """WITH q AS (
      |  SELECT c_custkey, c_nationkey, c_mktsegment,
      |    CAST(FLOOR(c_acctbal / 1000.0) * 1000 AS BIGINT) AS balance_band
      |  FROM customer),
      |g AS (
      |  SELECT *, COUNT(*) OVER (
      |    PARTITION BY c_nationkey, c_mktsegment, balance_band) AS gsize
      |  FROM q),
      |anon AS (
      |  SELECT c_custkey,
      |    CASE WHEN gsize >= 3 THEN c_nationkey END AS c_nationkey,
      |    CASE WHEN gsize >= 3 THEN c_mktsegment END AS c_mktsegment,
      |    CASE WHEN gsize >= 3 THEN balance_band END AS balance_band,
      |    gsize < 3 AS suppressed
      |  FROM g)
      |SELECT c_nationkey, c_mktsegment, balance_band, suppressed,
      |  COUNT(*) AS n, MIN(c_custkey) AS min_key
      |FROM anon
      |GROUP BY c_nationkey, c_mktsegment, balance_band, suppressed""".stripMargin

  /** L-DIVERSITY audit — the check k-anonymity alone misses: a quasi
    * group can be large (k-anonymous) yet carry ONE sensitive value,
    * so membership still discloses it (Machanavajjhala et al., ICDE
    * 2006). Per quasi group: size and distinct-sensitive count, with
    * the verdict `diverse` = (distinct >= l). Two aggregations over
    * the (quasi × sensitive) table — the distinct count is exact and
    * group-bounded, never a corpus-wide expand. Run it AFTER
    * [[kAnonymize]]: suppressed rows land in the all-NULL group, which
    * is audited like any other. */
  def lDiversity(df: DataFrame, quasi: Seq[String], sensitive: String,
      l: Long): DataFrame = {
    require(l >= 2, s"l must be >= 2, got $l")
    df.groupBy(quasi.map(col): _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(col(sensitive)).as("n_sensitive"))
      .select(quasi.map(col) :+ col("n") :+ col("n_sensitive") :+
        (col("n_sensitive") >= l).as("diverse"): _*)
  }

  // ---------------------------------------------------------------------
  // q188_l_diversity — the release audit on top of q176's quasi tuple:
  // per (nation, segment) group, does the sensitive balance band take
  // at least 3 distinct values? Coarse quasi groups are large enough to
  // be k-anonymous, so any failure here is exactly the leak k-anonymity
  // cannot see.
  // ---------------------------------------------------------------------
  def q188LDiversity(s: SparkSession, dir: String): DataFrame =
    lDiversity(
      t(s, dir, "customer").select(col("c_nationkey"), col("c_mktsegment"),
        (floor(col("c_acctbal") / 2000.0) * 2000).cast("long")
          .as("balance_band")),
      Seq("c_nationkey", "c_mktsegment"), "balance_band", 3L)

  val q188LDiversitySql: String =
    """SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
      |  CAST(COUNT(DISTINCT balance_band) AS BIGINT) AS n_sensitive,
      |  COUNT(DISTINCT balance_band) >= 3 AS diverse
      |FROM (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(FLOOR(c_acctbal / 2000.0) * 2000 AS BIGINT) AS balance_band
      |  FROM customer)
      |GROUP BY c_nationkey, c_mktsegment""".stripMargin

  /** WEIGHTED quantile thresholds — quantiles by MASS, not by row: "the
    * quality score below which 10% of the TOKENS sit" weighs a 100k-token
    * document 100k times a tweet, which is what a token-budgeted
    * curation decision actually needs (a row-quantile over documents
    * answers a different question). Same positional contract as
    * [[quantileThresholds]] with weight in place of count: per key the
    * threshold is the largest value v with W(x ≥ v) ≥ ⌈W_total·q⌉ — an
    * actual data value. Weights must be INTEGERS: the totals fold the
    * (key × distinct value) weight table, which is exact and
    * order-independent only for integer sums. */
  def weightedQuantileThresholds(df: DataFrame, key: String, value: String,
      weight: String, q: Double): DataFrame = {
    val wType = df.select(col(weight)).schema.head.dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(wType),
      s"weight $weight must be an integer column, got $wType")
    val wTbl = df.filter(col(key).isNotNull)
      .groupBy(col(key), col(value)).agg(sum(col(weight)).as("wv"))
    OrderStats.upperTail(wTbl, Seq(key), value, "wv", Seq(q))
      .select(col(key), col("n").as("w_total"), col("threshold"))
  }

  // ---------------------------------------------------------------------
  // q185_weighted_quantile — per-source quality threshold holding the TOP
  // 30% of CHARACTER mass (weight = n_chars): the token-budget cut. The
  // planted contrast vs the row quantile is structural — long docs
  // concentrate mass, so the mass threshold sits below the row
  // threshold wherever length correlates with the score. Both are
  // emitted; the oracle replays both cumulative rules.
  // ---------------------------------------------------------------------
  def q185WeightedQuantile(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("source"), col("n_chars"),
        (length(col("text")) % 97).cast("long").as("score"))
    val byMass = weightedQuantileThresholds(d, "source", "score",
        "n_chars", 0.3)
      .select(col("source"), col("w_total"),
        col("threshold").as("mass_threshold"))
    val byRow = quantileThresholds(d, "source", "score", 0.3)
      .select(col("source"), col("n").as("n_docs"),
        col("threshold").as("row_threshold"))
    byMass.join(byRow, "source")
  }

  val q185WeightedQuantileSql: String =
    """WITH d AS (
      |  SELECT source, n_chars, CAST(length(text) % 97 AS BIGINT) AS score
      |  FROM documents),
      |wv AS (
      |  SELECT source, score, SUM(n_chars) AS wv
      |  FROM d GROUP BY source, score),
      |wt AS (SELECT source, SUM(n_chars) AS w_total FROM d GROUP BY source),
      |wcum AS (
      |  SELECT wv.source, wv.score,
      |    SUM(wv.wv) OVER (PARTITION BY wv.source ORDER BY wv.score DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ge,
      |    MAX(wt.w_total) OVER (PARTITION BY wv.source) AS w_total
      |  FROM wv JOIN wt ON wv.source = wt.source),
      |mass AS (
      |  SELECT source, CAST(MAX(w_total) AS BIGINT) AS w_total,
      |    MAX(score) AS mass_threshold
      |  FROM wcum WHERE cum_ge >= CEIL(w_total * 0.3) GROUP BY source),
      |cv AS (
      |  SELECT source, score, COUNT(*) AS cnt FROM d GROUP BY source, score),
      |ct AS (SELECT source, COUNT(*) AS n FROM d GROUP BY source),
      |ccum AS (
      |  SELECT cv.source, cv.score,
      |    SUM(cv.cnt) OVER (PARTITION BY cv.source ORDER BY cv.score DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ge,
      |    MAX(ct.n) OVER (PARTITION BY cv.source) AS n
      |  FROM cv JOIN ct ON cv.source = ct.source),
      |rowq AS (
      |  SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
      |    MAX(score) AS row_threshold
      |  FROM ccum WHERE cum_ge >= CEIL(n * 0.3) GROUP BY source)
      |SELECT m.source, m.w_total, m.mass_threshold, r.n_docs,
      |  r.row_threshold
      |FROM mass m JOIN rowq r ON m.source = r.source""".stripMargin

  /** LONGEST-PREFIX policy match — the robots.txt / crawl-policy rule
    * every fetch frontier evaluates per URL: of all rules for the URL's
    * domain whose path-prefix matches at a SEGMENT boundary ("/p/1"
    * governs "/p/1/x" but not "/p/10"), the longest prefix wins;
    * no match falls back to `default`. Spark shape: each URL explodes
    * into its path-prefix CHAIN (segment-bounded, so boundary semantics
    * are structural, not textual) — at most path-depth rows, a constant
    * ≤ ~16 for real URLs — then ONE equi-join against the broadcast
    * rule table on (domain, prefix) and a max_by(length) per URL. No
    * LIKE scans, no theta join: at 100 TB the frontier pays
    * depth × |urls| join probes against an in-memory rule map. */
  def prefixRuleMatch(urls: DataFrame, rules: DataFrame,
      default: String): DataFrame = {
    val parts = split(col("path"), "/")
    val chain = urls.select(col("id"), col("domain"), col("path"),
      explode(transform(sequence(lit(2), size(parts)), i =>
        array_join(slice(parts, lit(1), i), "/"))).as("prefix"))
    val hit = chain
      .join(broadcast(rules), Seq("domain", "prefix"))
      .groupBy(col("id"))
      .agg(max_by(struct(col("prefix").as("matched_prefix"),
        col("action")), length(col("prefix"))).as("m"))
    urls.join(hit, Seq("id"), "left")
      .select(col("id"), col("domain"), col("path"),
        col("m.matched_prefix").as("matched_prefix"),
        coalesce(col("m.action"), lit(default)).as("action"))
  }

  // ---------------------------------------------------------------------
  // q181_prefix_rules — synthetic crawl policy over the q95/q173 URL
  // shape: every host allows '/p' broadly but denies '/p/3k' subtrees;
  // longest prefix must win for the denied ids and the boundary case
  // ('/p/1' vs '/p/10', '/p/12' vs '/p/1') must NOT cross-match. The
  // oracle derives the same verdict with LIKE-at-boundary semantics —
  // two independent formulations of "segment-bounded prefix".
  // ---------------------------------------------------------------------
  def q181PrefixRules(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val urls = d.select(col("doc_id").as("id"),
      concat(lit("host"), (col("doc_id") % 10).cast("string"),
        lit(".example.com")).as("domain"),
      concat(lit("/p/"), (col("doc_id") % 25).cast("string"),
        when(col("doc_id") % 4 === 0,
          concat(lit("/v"), (col("doc_id") % 3).cast("string")))
          .otherwise(lit(""))).as("path"))
    val hosts = s.range(10).select(
      concat(lit("host"), col("id").cast("string"), lit(".example.com"))
        .as("domain"))
    val allowAll = hosts.select(col("domain"), lit("/p").as("prefix"),
      lit("allow").as("action"))
    val denySub = hosts.crossJoin(s.range(9).select(
        (col("id") * 3).as("k")))
      .select(col("domain"),
        concat(lit("/p/"), col("k").cast("string")).as("prefix"),
        lit("deny").as("action"))
    prefixRuleMatch(urls, allowAll.unionByName(denySub), "allow")
      .groupBy(col("domain"), col("action"), col("matched_prefix"))
      .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"))
  }

  val q181PrefixRulesSql: String =
    """WITH urls AS (
      |  SELECT doc_id AS id,
      |    'host' || (doc_id % 10) || '.example.com' AS domain,
      |    '/p/' || (doc_id % 25) ||
      |      CASE WHEN doc_id % 4 = 0 THEN '/v' || (doc_id % 3)
      |           ELSE '' END AS path
      |  FROM documents),
      |rules AS (
      |  SELECT 'host' || d || '.example.com' AS domain,
      |    '/p' AS prefix, 'allow' AS action
      |  FROM range(10) AS t(d)
      |  UNION ALL
      |  SELECT 'host' || d || '.example.com', '/p/' || (3 * k), 'deny'
      |  FROM range(10) AS t(d), range(9) AS u(k)),
      |hit AS (
      |  SELECT u.id, r.prefix, r.action,
      |    ROW_NUMBER() OVER (PARTITION BY u.id
      |      ORDER BY length(r.prefix) DESC) AS rn
      |  FROM urls u JOIN rules r ON u.domain = r.domain
      |    AND (u.path = r.prefix OR u.path LIKE r.prefix || '/%'))
      |SELECT u.domain,
      |  COALESCE(h.action, 'allow') AS action,
      |  h.prefix AS matched_prefix,
      |  COUNT(*) AS n, MIN(u.id) AS min_id
      |FROM urls u LEFT JOIN hit h ON u.id = h.id AND h.rn = 1
      |GROUP BY u.domain, COALESCE(h.action, 'allow'), h.prefix""".stripMargin

  /** DATASET CARD summary — the one-page "what is in this corpus"
    * artifact a dataset release ships (Gebru et al., "Datasheets for
    * Datasets"): size, source/language breadth, duplication rate,
    * length distribution, all as one tall (metric, value) frame ready
    * to land next to the data. Every number is one aggregate over the
    * corpus scan or a |distinct-values| window (the p50 positional
    * rule); nothing is estimated. */
  def datasetCard(docs: DataFrame): DataFrame = {
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      sum(col("n_chars")).as("total_chars"),
      countDistinct(col("text")).as("n_distinct_texts"))
    val topLang = docs.groupBy(col("lang")).agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("top_lang_docs"))
    // the "constant key" must be UNFOLDABLE: `x * 0` folds for a
    // NON-NULLABLE x (stripping the window partition and replanning the
    // warning-spewing no-partition WindowExec); `x - x` is equally
    // constant but has no simplification rule
    val p50 = quantileThresholds(docs.select(
        (col("n_chars") - col("n_chars")).as("k"), col("n_chars")),
        "k", "n_chars", 0.5)
      .select(col("threshold").as("p50_chars"))
    val j = base.crossJoin(broadcast(topLang)).crossJoin(broadcast(p50))
    def metric(name: String, v: org.apache.spark.sql.Column) =
      j.select(lit(name).as("metric"), round(v.cast("double"), 6)
        .as("value"))
    metric("n_docs", col("n_docs"))
      .unionAll(metric("n_sources", col("n_sources")))
      .unionAll(metric("n_langs", col("n_langs")))
      .unionAll(metric("total_chars", col("total_chars")))
      .unionAll(metric("mean_chars",
        col("total_chars").cast("double") / col("n_docs").cast("double")))
      .unionAll(metric("dup_rate",
        lit(1.0) - col("n_distinct_texts").cast("double") /
          col("n_docs").cast("double")))
      .unionAll(metric("share_top_lang",
        col("top_lang_docs").cast("double") / col("n_docs").cast("double")))
      .unionAll(metric("p50_chars", col("p50_chars")))
  }

  // ---------------------------------------------------------------------
  // q195_dataset_card — the release datasheet over the documents corpus:
  // eight exact metrics in one tall frame. The oracle recomputes each
  // from scratch; the positional p50 follows the q76 rule.
  // ---------------------------------------------------------------------
  def q195DatasetCard(s: SparkSession, dir: String): DataFrame =
    datasetCard(t(s, dir, "documents"))

  val q195DatasetCardSql: String =
    """WITH base AS (
      |  SELECT COUNT(*) AS n_docs,
      |    COUNT(DISTINCT source) AS n_sources,
      |    COUNT(DISTINCT lang) AS n_langs,
      |    SUM(n_chars) AS total_chars,
      |    COUNT(DISTINCT text) AS n_distinct FROM documents),
      |tl AS (
      |  SELECT MAX(c) AS top_lang_docs FROM (
      |    SELECT COUNT(*) AS c FROM documents GROUP BY lang)),
      |cum AS (
      |  SELECT n_chars,
      |    SUM(cnt) OVER (ORDER BY n_chars DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ge,
      |    SUM(cnt) OVER () AS n
      |  FROM (SELECT n_chars, COUNT(*) AS cnt FROM documents
      |        GROUP BY n_chars)),
      |p50 AS (
      |  SELECT MAX(n_chars) AS p50_chars FROM cum
      |  WHERE cum_ge >= CEIL(n * 0.5))
      |SELECT 'n_docs' AS metric, ROUND(CAST(n_docs AS DOUBLE), 6) AS value
      |FROM base
      |UNION ALL SELECT 'n_sources', ROUND(CAST(n_sources AS DOUBLE), 6)
      |FROM base
      |UNION ALL SELECT 'n_langs', ROUND(CAST(n_langs AS DOUBLE), 6)
      |FROM base
      |UNION ALL SELECT 'total_chars', ROUND(CAST(total_chars AS DOUBLE), 6)
      |FROM base
      |UNION ALL SELECT 'mean_chars',
      |  ROUND(CAST(total_chars AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
      |FROM base
      |UNION ALL SELECT 'dup_rate',
      |  ROUND(1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
      |FROM base
      |UNION ALL SELECT 'share_top_lang',
      |  ROUND(CAST(tl.top_lang_docs AS DOUBLE)
      |    / CAST(base.n_docs AS DOUBLE), 6)
      |FROM base CROSS JOIN tl
      |UNION ALL SELECT 'p50_chars', ROUND(CAST(p50_chars AS DOUBLE), 6)
      |FROM p50""".stripMargin

  /** SPLIT-BALANCE audit — the QA gate after any train/val split: does
    * each stratum land in the splits at the global proportions, or did
    * the hash accidentally correlate with a stratum? Per (stratum,
    * split) cell: observed count, expected count n_stratum·p_split,
    * and the χ² term — the q135 per-cell shape (no global float fold).
    * Two aggregations over the split assignment, a |strata|×|splits|
    * output. */
  def splitBalance(df: DataFrame, stratum: String, split: String)
      : DataFrame = {
    val cells = df.groupBy(col(stratum), col(split))
      .agg(count(lit(1)).as("n_obs"))
    val byStratum = cells.groupBy(col(stratum))
      .agg(sum(col("n_obs")).as("n_stratum"))
    val bySplit = cells.groupBy(col(split))
      .agg(sum(col("n_obs")).as("n_split"))
    val total = cells.agg(sum(col("n_obs")).as("n_total"))
    val e = cells
      .join(broadcast(byStratum), Seq(stratum))
      .join(broadcast(bySplit), Seq(split))
      .crossJoin(broadcast(total))
      .withColumn("__exp", col("n_stratum").cast("double") *
        col("n_split").cast("double") / col("n_total").cast("double"))
    e.select(col(stratum), col(split), col("n_obs"),
      round(col("__exp"), 4).as("n_exp"),
      round((col("n_obs").cast("double") - col("__exp")) *
        (col("n_obs").cast("double") - col("__exp")) / col("__exp"), 4)
        .as("chi2_term"))
  }

  // ---------------------------------------------------------------------
  // q199_split_balance — is the q63 hash split balanced within every
  // source? Per (source, split) observed/expected/χ² cells over the
  // same md5-bucket assignment; a biased hash (or a changed bucket
  // boundary) moves the integers and hash-fails.
  // ---------------------------------------------------------------------
  def q199SplitBalance(s: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(md5(col("doc_id").cast("string")
      .cast("binary")), 1, 2), 16, 10).cast("int")
    val d = t(s, dir, "documents").withColumn("split",
      when(bucket < 230, lit("train")).otherwise(lit("val")))
    splitBalance(d, "source", "split")
  }

  val q199SplitBalanceSql: String =
    """WITH d AS (
      |  SELECT source,
      |    CASE WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
      |              1, 2) AS INT) < 230
      |         THEN 'train' ELSE 'val' END AS split
      |  FROM documents),
      |cells AS (
      |  SELECT source, split, COUNT(*) AS n_obs FROM d GROUP BY 1, 2),
      |bs AS (SELECT source, SUM(n_obs) AS n_stratum FROM cells GROUP BY 1),
      |bp AS (SELECT split, SUM(n_obs) AS n_split FROM cells GROUP BY 1),
      |tot AS (SELECT SUM(n_obs) AS n_total FROM cells)
      |SELECT c.source, c.split, c.n_obs,
      |  ROUND(CAST(bs.n_stratum AS DOUBLE) * CAST(bp.n_split AS DOUBLE)
      |    / CAST(tot.n_total AS DOUBLE), 4) AS n_exp,
      |  ROUND((CAST(c.n_obs AS DOUBLE)
      |      - CAST(bs.n_stratum AS DOUBLE) * CAST(bp.n_split AS DOUBLE)
      |        / CAST(tot.n_total AS DOUBLE))
      |    * (CAST(c.n_obs AS DOUBLE)
      |      - CAST(bs.n_stratum AS DOUBLE) * CAST(bp.n_split AS DOUBLE)
      |        / CAST(tot.n_total AS DOUBLE))
      |    / (CAST(bs.n_stratum AS DOUBLE) * CAST(bp.n_split AS DOUBLE)
      |      / CAST(tot.n_total AS DOUBLE)), 4) AS chi2_term
      |FROM cells c
      |JOIN bs ON c.source = bs.source
      |JOIN bp ON c.split = bp.split
      |CROSS JOIN tot""".stripMargin

  /** MODE (hot-deck) IMPUTATION — fill NULLs in a categorical column
    * with the group's most frequent non-NULL value (ties → smallest,
    * the [[Labels.majorityVote]] total order): the standard repair
    * before grouping/joining on a sparsely-populated column. One
    * (group × value) count + a per-group argmax window (vocabulary-
    * bounded), broadcast back, map-only fill. Rows preserved; a group
    * with NO observed value keeps its NULLs (`imputed` stays false —
    * visible, not invented). */
  def imputeMode(df: DataFrame, group: String, target: String)
      : DataFrame = {
    val counts = df.filter(col(target).isNotNull)
      .groupBy(col(group), col(target)).agg(count(lit(1)).as("c"))
    // argmax as an aggregate — the [[Labels.majorityVote]] r15 shape
    val modes = counts
      .groupBy(col(group))
      .agg(min(struct((-col("c")).as("negc"),
        col(target).as("v"))).as("__m"))
      .select(col(group), col("__m.v").as("__mode"))
    df.join(broadcast(modes), Seq(group), "left")
      .withColumn("imputed", col(target).isNull && col("__mode").isNotNull)
      .withColumn(target, coalesce(col(target), col("__mode")))
      .drop("__mode")
  }

  // ---------------------------------------------------------------------
  // q200_impute_mode — planted NULL langs (every 7th doc) refilled with
  // the source's modal language; the audit groups by (source, lang,
  // imputed). Tie-break and the no-mode-keeps-NULL rule are what the
  // hash checks.
  // ---------------------------------------------------------------------
  def q200ImputeMode(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").withColumn("lang",
      when(col("doc_id") % 7 === 0, lit(null).cast("string"))
        .otherwise(col("lang")))
    imputeMode(d, "source", "lang")
      .groupBy(col("source"), col("lang"), col("imputed"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))
  }

  val q200ImputeModeSql: String =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang
      |  FROM documents),
      |modes AS (
      |  SELECT source, lang AS mode_lang FROM (
      |    SELECT source, lang,
      |      ROW_NUMBER() OVER (PARTITION BY source
      |        ORDER BY COUNT(*) DESC, lang ASC) AS rn
      |    FROM d WHERE lang IS NOT NULL GROUP BY source, lang)
      |  WHERE rn = 1),
      |filled AS (
      |  SELECT d.doc_id, d.source,
      |    COALESCE(d.lang, m.mode_lang) AS lang,
      |    d.lang IS NULL AND m.mode_lang IS NOT NULL AS imputed
      |  FROM d LEFT JOIN modes m ON d.source = m.source)
      |SELECT source, lang, imputed, COUNT(*) AS n, MIN(doc_id) AS min_id
      |FROM filled GROUP BY source, lang, imputed""".stripMargin

  /** FUNCTIONAL-DEPENDENCY audit — does X → Y actually hold in the
    * data? Per X value: the distinct-Y count, the majority Y and its
    * support, flagged when the dependency is violated. The schema-
    * quality check run before trusting a join key or declaring a
    * column derivable. Two vocabulary-bounded aggregations + the
    * majority-vote argmax window (per-X state = its distinct Y set). */
  def fdCheck(df: DataFrame, x: String, y: String): DataFrame = {
    val cells = df.groupBy(col(x), col(y)).agg(count(lit(1)).as("c"))
    // argmax + both marginals as ONE aggregate over the cells table
    // (r15, the [[Labels.majorityVote]] shape) — replaces one exchange +
    // sort + THREE window passes with a single partial-aggregated
    // groupBy
    cells
      .groupBy(col(x))
      .agg(min(struct((-col("c")).as("negc"), col(y).as("v"))).as("__m"),
        count(lit(1)).as("__ny"), sum(col("c")).as("__n"))
      .select(col(x), col("__ny").as("n_distinct_y"),
        col("__m.v").as("majority_y"),
        (-col("__m.negc")).as("majority_support"),
        col("__n").as("n_rows"),
        (col("__ny") > 1).as("violated"))
  }

  // ---------------------------------------------------------------------
  // q215_fd_check — planted FD violation: nation → region holds in the
  // clean table; corrupting every 7th nation's region key must surface
  // exactly those nations as violated with the right majority. (The
  // corruption doubles rows so the clean value stays the majority.)
  // ---------------------------------------------------------------------
  def q215FdCheck(s: SparkSession, dir: String): DataFrame = {
    val n = t(s, dir, "nation").select(col("n_nationkey"),
      col("n_regionkey"))
    val corrupted = n.unionByName(n).unionByName(
      n.filter(col("n_nationkey") % 7 === 0)
        .select(col("n_nationkey"),
          ((col("n_regionkey") + 1) % 5).as("n_regionkey")))
    fdCheck(corrupted, "n_nationkey", "n_regionkey")
  }

  val q215FdCheckSql: String =
    """WITH corrupted AS (
      |  SELECT n_nationkey, n_regionkey FROM nation
      |  UNION ALL SELECT n_nationkey, n_regionkey FROM nation
      |  UNION ALL
      |  SELECT n_nationkey, (n_regionkey + 1) % 5 FROM nation
      |  WHERE n_nationkey % 7 = 0),
      |cells AS (
      |  SELECT n_nationkey, n_regionkey, COUNT(*) AS c
      |  FROM corrupted GROUP BY 1, 2),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY n_nationkey
      |      ORDER BY c DESC, n_regionkey ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY n_nationkey) AS ny,
      |    SUM(c) OVER (PARTITION BY n_nationkey) AS n
      |  FROM cells)
      |SELECT n_nationkey, ny AS n_distinct_y,
      |  n_regionkey AS majority_y, c AS majority_support,
      |  CAST(n AS BIGINT) AS n_rows, ny > 1 AS violated
      |FROM ranked WHERE rn = 1""".stripMargin

  /** GOLDEN-RECORD survivorship — collapse each duplicate cluster to
    * one record with FIELD-LEVEL rules (per field independently: the
    * majority non-NULL value, ties to smallest — so the golden record
    * may mix fields from different members, which is the point of
    * survivorship vs keep-best-row). One (cluster, field, value) count
    * per field + the majority argmax — never a pairwise comparison;
    * cluster ids come from the existing dedup machinery
    * ([[Components]] / [[graft.operators.Dedup]]). */
  def goldenRecord(df: DataFrame, cluster: String, fields: Seq[String])
      : DataFrame = {
    val golden = fields.map { f =>
      val cells = df.filter(col(f).isNotNull)
        .groupBy(col(cluster), col(f).cast("string").as("__v"))
        .agg(count(lit(1)).as("c"))
      // argmax as an aggregate — the [[Labels.majorityVote]] r15 shape
      cells
        .groupBy(col(cluster))
        .agg(min(struct((-col("c")).as("negc"), col("__v").as("v")))
          .as("__m"))
        .select(col(cluster), col("__m.v").as(s"golden_$f"))
    }.reduce((a, b) => a.join(b, Seq(cluster), "full_outer"))
    val sizes = df.groupBy(col(cluster)).agg(count(lit(1)).as("n_members"))
    sizes.join(golden, Seq(cluster), "left")
  }

  // ---------------------------------------------------------------------
  // q217_golden_record — survivorship over planted duplicate clusters
  // (cluster = c_custkey div 100): per cluster the field-level majority
  // segment and nation with deterministic ties. Field mixing is real
  // here — a cluster's majority segment and majority nation can come
  // from different members.
  // ---------------------------------------------------------------------
  def q217GoldenRecord(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
      .select((col("c_custkey") / 100).cast("long").as("cluster"),
        col("c_mktsegment"), col("c_nationkey"))
    goldenRecord(c, "cluster", Seq("c_mktsegment", "c_nationkey"))
  }

  val q217GoldenRecordSql: String =
    """WITH c AS (
      |  SELECT CAST(FLOOR(c_custkey / 100.0) AS BIGINT) AS cluster,
      |    c_mktsegment, c_nationkey
      |  FROM customer),
      |seg AS (
      |  SELECT cluster, v AS golden_c_mktsegment FROM (
      |    SELECT cluster, c_mktsegment AS v,
      |      ROW_NUMBER() OVER (PARTITION BY cluster
      |        ORDER BY COUNT(*) DESC, c_mktsegment ASC) AS rn
      |    FROM c WHERE c_mktsegment IS NOT NULL
      |    GROUP BY cluster, c_mktsegment)
      |  WHERE rn = 1),
      |nat AS (
      |  SELECT cluster, v AS golden_c_nationkey FROM (
      |    SELECT cluster, CAST(c_nationkey AS VARCHAR) AS v,
      |      ROW_NUMBER() OVER (PARTITION BY cluster
      |        ORDER BY COUNT(*) DESC, CAST(c_nationkey AS VARCHAR) ASC)
      |        AS rn
      |    FROM c WHERE c_nationkey IS NOT NULL
      |    GROUP BY cluster, CAST(c_nationkey AS VARCHAR))
      |  WHERE rn = 1),
      |sizes AS (SELECT cluster, COUNT(*) AS n_members FROM c
      |          GROUP BY cluster)
      |SELECT s.cluster, s.n_members, seg.golden_c_mktsegment,
      |  nat.golden_c_nationkey
      |FROM sizes s
      |LEFT JOIN seg ON s.cluster = seg.cluster
      |LEFT JOIN nat ON s.cluster = nat.cluster""".stripMargin

}
