package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{AppendCommit, PersistedStore}

/** [EXT] Persisted n-gram PRESENCE index with O(batch) append — the
  * reference-corpus side of novelty scoring ([[TextAnalysis
  * .ngramNovelty]]) made incremental. q156 re-shingles the reference
  * per run; at 100 TB the reference gram inventory must persist and
  * grow by batches, exactly like the MinHash/IVF/term indexes — same
  * [[graft.pipeline.AppendCommit]] protocol, same crash/replay story.
  *
  * Layout at `indexDir`:
  *   - `grams/gb=<0..63>/` — DOC-ATTRIBUTED gram rows `(doc_id, g)`,
  *     per-doc distinct, hash-partitioned by gram bucket (file-additive
  *     appends land in their buckets);
  *   - `_applied/` ledger — replay suppression per batch.
  *
  * PRESENCE semantics make appends embarrassingly simple: a gram
  * appearing in several docs/batches lands several times, and the probe
  * uses a LEFT SEMI join — each probe gram matches at most once no
  * matter how many index rows carry it, so duplicates cost bytes,
  * never correctness (compact with [[graft.pipeline.Maintain]] on the
  * maintenance cadence). No read-before-write diff, no cap rebalance —
  * the append is one distinct-shuffle of the batch plus file moves.
  *
  * The rows carry `doc_id` for exactly one reason: RIGHT TO BE
  * FORGOTTEN. A presence SET cannot subtract a contributor (a gram may
  * be held by many docs, and "is any SURVIVING doc holding it?" is a
  * full-corpus question), but doc-attributed rows delete by key in
  * O(files-holding-the-ids) ([[purgeDocs]]) — the same reason the term
  * index stores postings per doc. The semi-join probe makes the extra
  * multiplicity semantically invisible.
  */
object GramIndex {

  val NBuckets = 64

  private def gramsOf(docs: DataFrame, n: Int): DataFrame =
    NGrams.nGramRows(docs, n)(ws => concat_ws("|", ws: _*))
      .select(col("doc_id"), col("s").as("g")).distinct()
      .withColumn("gb", pmod(xxhash64(col("g")), lit(NBuckets.toLong))
        .cast("int"))

  private def batchId(docs: DataFrame): String =
    AppendCommit.contentId(PersistedStore.fingerprint(docs, "doc_id", "text"))

  private def writeGrams(docs: DataFrame, n: Int, tmp: String): Unit =
    gramsOf(docs, n).repartition(col("gb"))
      .write.partitionBy("gb").parquet(s"$tmp/grams")

  /** Full rebuild, swapped in atomically with its base ledger entry. */
  def buildGramIndex(spark: SparkSession, docs: DataFrame, n: Int,
      indexDir: String): Unit =
    PersistedStore.build(indexDir, Seq(batchId(docs) -> ""))(
      writeGrams(docs, n, _))

  /** O(batch) append: the batch's distinct grams land file-additively in
    * their buckets; a replayed batch no-ops on the ledger. */
  def appendToGramIndex(spark: SparkSession, batch: DataFrame, n: Int,
      indexDir: String): Boolean =
    PersistedStore.append(spark, indexDir, batchId(batch))(
      writeGrams(batch, n, _))

  /** RTBF cascade hook: physically remove `docIds`' gram rows from the
    * index files — after which a [[noveltyProbe]] is indistinguishable
    * from a rebuild over the filtered corpus (a gram survives iff some
    * SURVIVING doc holds it; the doc attribution makes that local to
    * the deleted rows instead of a corpus rescan). Rewrites touch only
    * files holding the ids ([[graft.pipeline.Maintain.deleteByKey]] —
    * O(hit files), never O(index)); a replayed purge no-ops on the
    * ledger (an empty payload: a presence set has no counts to
    * subtract). Returns gram rows removed. */
  def purgeDocs(spark: SparkSession, indexDir: String,
      docIds: Seq[Any]): Long =
    PersistedStore.purge(spark, indexDir, docIds, "doc_id", "grams")("")

  private[graft] val family: PersistedStore.Family =
    (spark, dir, keys, _) => purgeDocs(spark, dir, keys)

  /** Streaming maintenance: a `foreachBatch` sink appending each
    * micro-batch's grams. The replay unit is the batch's CONTENT id
    * (the append path's own fingerprint), so a redelivered micro-batch
    * no-ops without trusting the engine's batch numbering. */
  def foreachBatchSink(indexDir: String, n: Int)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, _) => {
      appendToGramIndex(batch.sparkSession, batch.toDF(), n, indexDir)
      ()
    }

  /** Per-doc novelty against the PERSISTED index — q156's output shape
    * ((doc_id, n_grams, n_novel)) without re-shingling the reference.
    * LEFT SEMI marks seen grams, so index-side duplicates from
    * overlapping batches never multiply probe rows. */
  def noveltyProbe(spark: SparkSession, docs: DataFrame, n: Int,
      indexDir: String): DataFrame = PersistedStore.open(indexDir) {
    val idx = spark.read.parquet(s"$indexDir/grams").select(col("g"))
    val grams = NGrams.nGramRows(docs, n)(ws => concat_ws("|", ws: _*))
      .select(col("doc_id"), col("s").as("g"))
    val totals = grams.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"))
    val seen = grams.join(idx, Seq("g"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_seen"))
    totals.join(seen, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_grams"),
        (col("n_grams") - coalesce(col("n_seen"), lit(0L)))
          .as("n_novel"))
  }

  // ---------------------------------------------------------------------
  // q171_novelty_probe — DERIVED ORACLE through the full index
  // lifecycle: build on the even-doc half, APPEND the doc_id%4==1
  // quarter as a batch (replayed once — must no-op), then probe the
  // %4==3 quarter. DuckDB recomputes novelty from scratch against the
  // union reference; equality holds iff the build, the file-additive
  // append, replay suppression, AND the semi-join probe are all
  // correct (a double-applied or lost batch shifts n_novel).
  // ---------------------------------------------------------------------
  private lazy val gateBase: String =
    java.nio.file.Files.createTempDirectory("graft_gramidx_").toString

  def q171NoveltyProbe(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val idx = s"$gateBase/gi_${dir.hashCode.toHexString}"
    if (!new java.io.File(s"$idx.complete").exists()) {
      buildGramIndex(s, d.filter(col("doc_id") % 2 === 0), 5, idx)
      appendToGramIndex(s, d.filter(col("doc_id") % 4 === 1), 5, idx)
      appendToGramIndex(s, d.filter(col("doc_id") % 4 === 1), 5, idx)
      new java.io.File(s"$idx.complete").createNewFile()
    }
    noveltyProbe(s, d.filter(col("doc_id") % 4 === 3), 5, idx)
  }

  val q171NoveltyProbeSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
      |           FROM documents),
      |wd AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ws[i] AS word
      |       FROM w, UNNEST(range(1, len(ws) + 1)) AS gg(i)),
      |gr AS (SELECT doc_id,
      |         word || '|' || lead(word, 1) OVER dw || '|' ||
      |         lead(word, 2) OVER dw || '|' || lead(word, 3) OVER dw ||
      |         '|' || lead(word, 4) OVER dw AS g
      |       FROM wd WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
      |refg AS (SELECT DISTINCT g FROM gr
      |         WHERE doc_id % 4 <> 3 AND g IS NOT NULL),
      |dg AS (SELECT doc_id, g FROM gr
      |       WHERE doc_id % 4 = 3 AND g IS NOT NULL)
      |SELECT dg.doc_id, COUNT(*) AS n_grams,
      |  CAST(SUM(CASE WHEN refg.g IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_novel
      |FROM dg LEFT JOIN refg ON dg.g = refg.g
      |GROUP BY dg.doc_id""".stripMargin
}
