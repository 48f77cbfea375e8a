package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{AppendCommit, Maintain, PersistedStore}
import graft.pipeline.PersistedStore.{fingerprintCols, fingerprintOf}

/** [EXT] Persisted inverted term index with O(batch) append — the lexical
  * sibling of the persisted MinHash (Dedup) and IVF (Similarity) indexes,
  * under the same [[graft.pipeline.AppendCommit]] protocol. A BM25 probe
  * against a 100 TB corpus must not re-tokenize the corpus per query
  * batch; it reads postings for the query terms only.
  *
  * Layout at `indexDir`:
  *   - `postings/tb=<0..63>/` — (tok, doc_id, tf, dl) parquet, hash-
  *     partitioned by term bucket. A probe filters on literal `tb`
  *     values, so the scan statically prunes to ≤|query-term buckets| of
  *     64 directories (the IVF cell-pruning pattern) — probe I/O scales
  *     with the query's term buckets, not the corpus;
  *   - `_applied/` ledger — one entry per applied batch, whose payload
  *     carries the batch's additive corpus stats "n_docs:sum_dl". N and
  *     avgdl at probe time are ledger sums: exact longs, so
  *     avgdl = sum_dl/n_docs is the bit-same double DuckDB's AVG
  *     computes, under ANY batch arrival order.
  *
  * Build = SafeSwap of the whole tree with the base batch's ledger entry
  * written INSIDE the staged tree (crash-atomic, the MinHash-build
  * convention). Append = AppendCommit.appendBatch: postings files land
  * tagged in their term-bucket dirs, the ledger entry lands last;
  * replayed batches no-op on the ledger probe. Scoring reuses
  * [[TextAnalysis.bm25FromTf]] — the probe faces the SAME oracle as the
  * from-scratch q107.
  */
object TermIndex {

  val NBuckets = 64

  private def postingsOf(docs: DataFrame): DataFrame = {
    val w = TextAnalysis.words(col("text"))
    docs.select(col("doc_id"), size(w).cast("long").as("dl"),
        explode(w).as("tok"))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("tb", pmod(xxhash64(col("tok")), lit(NBuckets.toLong))
        .cast("int"))
  }

  /** Batch fingerprint ("n|h", the append idempotency key) AND additive
    * corpus stats (n_docs, sum_dl) from ONE scan+tokenize pass (guide
    * §1.2: don't pay a corpus pass per scalar). */
  private def fpAndStats(docs: DataFrame): (String, String) = {
    val Seq(n, h) = fingerprintCols(col("doc_id"), col("text"))
    val r = docs.agg(n, h,
      sum(size(TextAnalysis.words(col("text"))).cast("long"))).head()
    (fingerprintOf(r), s"${r.getLong(0)}:${if (r.isNullAt(2)) 0L
      else r.getLong(2)}")
  }

  private def writePostings(docs: DataFrame, tmp: String): Unit =
    postingsOf(docs).repartition(col("tb"))
      .write.partitionBy("tb").parquet(s"$tmp/postings")

  /** Full rebuild: postings tree + base ledger entry, swapped in
    * atomically. */
  def buildTermIndex(spark: SparkSession, docs: DataFrame,
      indexDir: String): Unit = {
    val (fp, stats) = fpAndStats(docs)
    PersistedStore.build(indexDir, Seq(AppendCommit.contentId(fp) -> stats))(
      writePostings(docs, _))
  }

  /** O(batch) append: only the batch's own postings files move into the
    * live tree; untouched index files keep physical identity. Replay of
    * an applied batch is a ledger-probe no-op. */
  def appendToTermIndex(spark: SparkSession, batch: DataFrame,
      indexDir: String): Unit = {
    val (fp, stats) = fpAndStats(batch)
    PersistedStore.append(spark, indexDir, AppendCommit.contentId(fp),
      stats)(writePostings(batch, _))
  }

  /** RTBF cascade hook: physically remove `docIds`' postings from the
    * index files and SUBTRACT their corpus-stats contribution (n_docs,
    * Σdl) via a negative ledger entry — so a post-purge probe scores
    * BM25 exactly as a from-scratch build over the filtered corpus
    * would. The negative stats come from the stored postings BEFORE the
    * rows leave ([[PersistedStore.purge]]'s intent). Returns posting
    * rows removed. */
  def purgeDocs(spark: SparkSession, indexDir: String,
      docIds: Seq[Any]): Long =
    PersistedStore.purge(spark, indexDir, docIds, "doc_id", "postings") {
      val r = Maintain.matchingKeys(
          spark.read.parquet(s"$indexDir/postings"), "doc_id", docIds)
        .select(col("doc_id"), col("dl")).distinct()
        .agg(count(lit(1)), sum(col("dl"))).head()
      s"${-r.getLong(0)}:${if (r.isNullAt(1)) 0L else -r.getLong(1)}"
    }

  private[graft] val family: PersistedStore.Family =
    (spark, dir, keys, _) => purgeDocs(spark, dir, keys)

  /** (n_docs, Σdl) of the indexed corpus: the ledger's stats payloads,
    * summed. */
  private[graft] def corpusStats(indexDir: String): (Long, Long) =
    AppendCommit.appliedEntries(indexDir)
      .map(_._2.split(":") match { case Array(a, c) => (a.toLong, c.toLong) })
      .foldLeft((0L, 0L)) { case ((an, ad), (bn, bd)) => (an + bn, ad + bd) }

  /** BM25 top-k through the index: postings pruned to the query terms'
    * buckets, stats from the ledger. Matches [[TextAnalysis.bm25TopK]]
    * over the same corpus bit-exactly. */
  def probeTermIndex(spark: SparkSession, indexDir: String,
      terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    PersistedStore.open(indexDir) {
      require(terms.nonEmpty, "probe needs at least one query term")
      // term→bucket via the engine's own xxhash64 (one |terms|-row job, no
      // host-side hash reimplementation to drift)
      import scala.jdk.CollectionConverters._
      val tbs = spark.createDataFrame(
          terms.map(Row(_)).asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("tok",
              org.apache.spark.sql.types.StringType))))
        .select(pmod(xxhash64(col("tok")), lit(NBuckets.toLong)).cast("int"))
        .collect().map(_.getInt(0)).distinct.toSeq
      val (n, sumDl) = corpusStats(indexDir)
      require(n > 0, s"term index at $indexDir is empty")
      val stats = spark.range(1).select(
        lit(n).cast("double").as("n_docs"),
        (lit(sumDl).cast("double") / lit(n).cast("double")).as("avgdl"))
      val tf = spark.read.parquet(s"$indexDir/postings")
        .filter(col("tb").isin(tbs: _*) && col("tok").isInCollection(terms))
        .select(col("doc_id"), col("dl").cast("double").as("dl"),
          col("tok"), col("tf").cast("double").as("tf"))
      TextAnalysis.bm25FromTf(tf, stats, terms, k, k1, b)
    }

  // ---------------------------------------------------------------------
  // q129_term_index — the gate assembles the index through BOTH write
  // paths (build on even doc_ids, append odd doc_ids) and probes with
  // q107's terms and k: the result must hash-match q107's from-scratch
  // oracle, proving build+append ≡ full corpus AND probe ≡ scan-side
  // BM25.
  // ---------------------------------------------------------------------
  def q129TermIndex(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val idx = s"/tmp/graft_term_index_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    buildTermIndex(s, d.filter(col("doc_id") % 2 === 0), idx)
    appendToTermIndex(s, d.filter(col("doc_id") % 2 === 1), idx)
    probeTermIndex(s, idx, Seq("spark", "merge", "window"), k = 15)
  }

  /** Same oracle as q107 — the index must be invisible in the result. */
  val q129TermIndexSql: String = TextAnalysis.q107Bm25Sql
}
