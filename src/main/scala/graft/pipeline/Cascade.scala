package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, count_distinct, lit, when}

/** RTBF (right-to-be-forgotten) CASCADE delete: a row-level key delete
  * on a corpus table must also leave every maintained DERIVED store the
  * pipeline built from it — the MinHash signature/band tables persist
  * the docs' ids and near-dup structure, the term index persists their
  * postings, the IVF cells persist their ORIGINAL embeddings (actual
  * content), PQ/IVFADC stores persist their codes, join views persist
  * enriched row copies, and rollup partials counted them. Purging the
  * table alone ([[Maintain.deleteByKey]]) leaves all of that behind —
  * the reference's file-sync model never faced this because its unit
  * of change was the whole file (`sync-canvas-data-files.py:58-67`);
  * record-grained deletion needs record-grained propagation.
  *
  * Ordering is the crash-safety argument:
  *
  *   1. CAPTURE the doomed rows' (id, embedding) from the still-intact
  *      corpus — the codes-only PQ stores cannot reproduce a deleted
  *      vector's fingerprint contribution from their own bytes;
  *   2. PURGE every index, all at once (each hook is idempotent and
  *      intent-staged — [[graft.pipeline.AppendCommit.runWithIntent]] —
  *      so a crash anywhere re-converges by re-running the cascade);
  *   3. only when every purge returned, all at once: delete the TABLE
  *      rows (idempotent), purge keyed views, invalidate
  *      non-subtractable rollup stores.
  *
  * A re-run after a crash at any step converges: applied purges no-op
  * via their content-keyed ledger entries, the table delete finds
  * nothing, invalidation is idempotent. Each store's purge is
  * O(files-holding-the-keys), never O(store) — the 100 TB contract.
  */
object Cascade {

  sealed trait Target
  object Target {
    /** MinHash near-dup index ([[graft.operators.Dedup]]): signatures,
      * bands, negative bucket-size deltas. Doc-id keyed. */
    final case class Minhash(dir: String) extends Target
    /** BM25 term index ([[graft.operators.TermIndex]]): postings +
      * negative corpus stats. Doc-id keyed. */
    final case class Term(dir: String) extends Target
    /** IVF ANN index ([[graft.operators.Similarity]]): cell rows (which
      * hold the original embeddings) + negative fingerprint. */
    final case class Ivf(dir: String) extends Target
    /** PQ-ADC codes store ([[graft.operators.Quantize]]). */
    final case class Pq(dir: String) extends Target
    /** IVFADC cell-partitioned codes store. */
    final case class IvfPq(dir: String) extends Target
    /** Maintained join view whose rows copy the fact key. */
    final case class View(store: String, keyCol: String) extends Target
    /** Rollup store: delta-SUBTRACTED in place when the spec's algebra
      * allows (counts/sums/nulls/histograms — [[Rollup.retract]] folds
      * the deleted rows' negated partials, no rebuild scan), otherwise
      * invalidated for rebuild (min/max/HLL cannot un-see a row).
      * Non-linear SKETCH evidence (KMV, HLL distinct) maintained as a
      * rollup store purges through this invalidation path too. */
    final case class RollupStore(dir: String, spec: Rollup.Spec)
        extends Target
    /** Gram-presence index ([[graft.operators.GramIndex]]): the
      * forgotten docs' content-fingerprint rows (doc-attributed grams)
      * leave the index files. Doc-id keyed. */
    final case class Gram(dir: String) extends Target
    /** Incremental connected-components store ([[graft.operators
      * .Components]]): the ids' identity rows AND their graph edges
      * leave, with affected components re-closed over the surviving
      * edges (splits/renames/isolations — rebuild-equivalent). */
    final case class Comp(dir: String) extends Target
    /** Maintained Count–Min frequency store ([[graft.operators
      * .Sketches]]): CM is a LINEAR sketch, so the deleted rows'
      * counter contributions subtract exactly ([[Rollup.retract]]
      * underneath — stage-carried, crash-convergent). `keyExpr` is the
      * SQL expression the store sketches (over the fact table's
      * columns), `w` its width. */
    final case class Cms(dir: String, keyExpr: String, w: Int)
        extends Target
  }

  /** The audit receipt an RTBF primitive owes its caller: EVERY target
    * appears exactly once, under a kind-qualified label (`minhash:<dir>`
    * — two targets sharing a directory cannot silently collapse into
    * one entry), in exactly one of `purged` (index/view rows removed),
    * `retracted` (fact rows delta-subtracted from a subtractable rollup
    * store), or `invalidated` (non-subtractable stores dropped for
    * rebuild). */
  final case class Summary(
      tableRowsDeleted: Long,
      purged: Map[String, Long],
      retracted: Map[String, Long],
      invalidated: Seq[String])

  private def label(t: Target): String = t match {
    case Target.Minhash(d) => s"minhash:$d"
    case Target.Term(d) => s"term:$d"
    case Target.Ivf(d) => s"ivf:$d"
    case Target.Pq(d) => s"pq:$d"
    case Target.IvfPq(d) => s"ivfpq:$d"
    case Target.View(s, _) => s"view:$s"
    case Target.RollupStore(d, _) => s"rollup:$d"
    case Target.Gram(d) => s"gram:$d"
    case Target.Comp(d) => s"components:$d"
    case Target.Cms(d, _, _) => s"cms:$d"
  }

  /** A persisted-store target: its dir and family ([[PersistedStore]]). */
  private object Persisted {
    import graft.operators.{Dedup, GramIndex, TermIndex, VectorIndex}
    def unapply(t: Target): Option[(String, PersistedStore.Family)] =
      t match {
        case Target.Minhash(d) => Some(d -> Dedup.minhashFamily)
        case Target.Term(d) => Some(d -> TermIndex.family)
        case Target.Gram(d) => Some(d -> GramIndex.family)
        case Target.Ivf(d) => Some(d -> VectorIndex.family)
        case Target.Pq(d) => Some(d -> VectorIndex.family)
        case Target.IvfPq(d) => Some(d -> VectorIndex.family)
        case _ => None
      }
  }

  /** What one cascade unit did to its target. */
  private sealed trait Outcome
  private final case class Purged(rows: Long) extends Outcome
  private final case class Retracted(rows: Long) extends Outcome
  private case object Invalidated extends Outcome

  /** Cascade-delete `keys` of column `c` from the corpus at `tableDir`
    * and from every maintained store in `targets`, in two phases of
    * independent units, each phase's units all at once ([[Par]]): first
    * every unit that reads the intact corpus (the persisted-store and component purges, the Count–Min and
    * subtractable rollup retractions), then — only when all of them
    * returned — the table delete, the view purges and the rollup
    * invalidations. `embeddingCol` is read from the corpus only when a
    * store's purge asks for the deleted rows — a codes-only vector
    * store, which holds no embeddings to fingerprint. */
  def deleteByKey(spark: SparkSession, tableDir: String, c: String,
      keys: Seq[Any], targets: Seq[Target],
      embeddingCol: String = "embedding"): Summary = {
    import Target._
    require(keys.nonEmpty, "need at least one key to cascade-delete")
    // read BEFORE any destruction (phase 1 ends before the table
    // delete); on a converging re-run after the table delete this is
    // legitimately empty — the purge hooks' staged intents carry the
    // first run's numbers
    lazy val deletedRows = Maintain.matchingKeys(
        Manifest.readSnapshot(spark, tableDir), c, keys)
      .select(col(c).as("vec_id"), col(embeddingCol).as("embedding"))
    val needFull = targets.exists {
      case RollupStore(_, spec) => Rollup.subtractable(spec)
      case Cms(_, _, _) => true
      case _ => false
    }
    val deletedFull =
      if (!needFull) spark.emptyDataFrame
      else Maintain.matchingKeys(
        Manifest.readSnapshot(spark, tableDir), c, keys)
    val retractId = AppendCommit.purgeId(keys)
    val captures = targets.collect {
      case tg @ Persisted(dir, family) =>
        tg -> (() => Purged(family.purge(spark, dir, keys, () => deletedRows)))
      case tg @ Comp(dir) =>
        tg -> (() => Purged(
          graft.operators.Components.purgeNodes(spark, dir, keys)))
      case tg @ Cms(dir, keyExpr, w) =>
        // linear-sketch retraction needs the doomed rows; the in-store
        // stage carries crash-retries
        tg -> (() => Retracted(graft.operators.Sketches.purgeCmsStore(
          spark, dir, deletedFull,
          org.apache.spark.sql.functions.expr(keyExpr), w, retractId)))
      case tg @ RollupStore(dir, spec) if Rollup.subtractable(spec) =>
        // the rows must still exist to stage; the retraction's in-store
        // stage makes the retry convergent
        tg -> (() => Retracted(
          Rollup.retract(spark, dir, deletedFull, spec, retractId)))
    }
    val destroys = targets.collect {
      case tg @ View(store, keyCol) =>
        tg -> (() => Purged(JoinView.purgeByKey(spark, store, keyCol, keys)))
      case tg @ RollupStore(dir, spec) if !Rollup.subtractable(spec) =>
        tg -> (() => { Rollup.invalidate(spark, dir); Invalidated })
    }
    def all[A](units: Seq[() => A]) = Par.map(units, units.size)(_())
    val captured = all(captures.map(_._2))
    val Purged(tableRows) +: destroyed = all((() => Purged(
      Maintain.deleteByKey(spark, tableDir, c, keys).rowsDeleted)) +:
      destroys.map(_._2))
    val done = (captures ++ destroys).map(u => label(u._1))
      .zip(captured ++ destroyed)
    Summary(tableRows,
      done.collect { case (l, Purged(n)) => l -> n }.toMap,
      done.collect { case (l, Retracted(n)) => l -> n }.toMap,
      done.collect { case (l, Invalidated) => l })
  }

  // ---------------------------------------------------------------------
  // q257_cascade_delete — the RTBF cascade end-to-end: per-process
  // copies of the documents/embeddings corpora get a MinHash index, a
  // term index, and an IVF index built through BOTH write paths
  // (build on even ids, append odd ids), then every id ≡ 3 (mod 7)
  // cascade-deletes. The gate emits an integer evidence panel whose
  // oracle is the FILTERED corpus: zero rows referencing deleted ids
  // may remain in any index file, the term index's ledger-folded corpus
  // stats must equal the filtered corpus's (COUNT, Σ token counts), the
  // MinHash signature table must shrink to the kept count, the IVF
  // cells must hold exactly the kept vectors, and a probe armed with
  // the PURGED vectors' own embeddings must reach none of them.
  // ---------------------------------------------------------------------
  private lazy val gateBase: String =
    java.nio.file.Files.createTempDirectory("graft_casc_").toString

  private def fixtureRoot(dir: String) =
    s"$gateBase/c_${dir.hashCode.toHexString}"

  /** Build-once (per process+SF) cascade fixture; returns
    * (docsTable, mhIdx, termIdx, embTable, ivfIdx). */
  private def ensureFixture(s: SparkSession, dir: String)
      : (String, String, String, String, String) = {
    val root = fixtureRoot(dir)
    val docsT = s"$root/docs"; val mh = s"$root/mh"
    val term = s"$root/term"; val embT = s"$root/emb"
    val ivf = s"$root/ivf"
    if (!new java.io.File(s"$root.complete").exists()) {
      val d = graft.operators.t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val e = graft.operators.t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      d.write.mode("overwrite").parquet(docsT)
      e.write.mode("overwrite").parquet(embT)
      graft.operators.Dedup.buildMinhashIndex(s,
        d.filter(col("doc_id") % 2 === 0), mh)
      graft.operators.Dedup.appendToMinhashIndex(s,
        d.filter(col("doc_id") % 2 === 1), mh)
      graft.operators.TermIndex.buildTermIndex(s,
        d.filter(col("doc_id") % 2 === 0), term)
      graft.operators.TermIndex.appendToTermIndex(s,
        d.filter(col("doc_id") % 2 === 1), term)
      graft.operators.Similarity.buildIvfIndex(s,
        e.filter(col("vec_id") % 2 === 0), ivf)
      graft.operators.Similarity.appendToIvfIndex(s,
        e.filter(col("vec_id") % 2 === 1), ivf)
      val docKeys: Seq[Any] = d.filter(col("doc_id") % 7 === 3)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      val vecKeys: Seq[Any] = e.filter(col("vec_id") % 7 === 3)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      deleteByKey(s, docsT, "doc_id", docKeys,
        Seq(Target.Minhash(mh), Target.Term(term)))
      deleteByKey(s, embT, "vec_id", vecKeys, Seq(Target.Ivf(ivf)))
      new java.io.File(s"$root.complete").createNewFile()
    }
    (docsT, mh, term, embT, ivf)
  }

  def q257CascadeDelete(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val (docsT, mh, term, embT, ivf) = ensureFixture(s, dir)
    val delDoc = col("doc_id") % 7 === 3
    val delVec = col("vec_id") % 7 === 3
    def n(df: DataFrame): Long = df.count()
    val (statsN, statsDl) = graft.operators.TermIndex.corpusStats(term)
    // probe the IVF index with the PURGED vectors' own embeddings (from
    // the untouched source table — a purged vector's nearest neighbor
    // would be itself at cosine 1.0): any hit on a purged id is a leak
    val deletedQ = graft.operators.t(s, dir, "embeddings")
      .filter(delVec)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .limit(20)
    val leaked = graft.operators.Similarity
      .probeIvfIndex(s, ivf, deletedQ, k = 5)
      .filter(delVec).count()
    // evidence metrics grouped ONE JOB PER FILE (guide §1.2: don't pay a
    // scan per scalar — a conditional count and a total ride the same
    // aggregation); values are identical to the per-metric counts
    def two(df: DataFrame, m1: Column, m2: Column): (Long, Long) = {
      val r = df.agg(m1, m2).head(); (r.getLong(0), r.getLong(1))
    }
    val cnt = count(lit(1))
    val (cellsDel, cellsDistinct) = two(s.read.parquet(s"$ivf/cells"),
      count(when(delVec, 1)), count_distinct(col("vec_id")))
    val (sigDel, sigTotal) = two(s.read.parquet(s"$mh/signatures"),
      count(when(delDoc, 1)), cnt)
    val (docsDel, docsTotal) = two(s.read.parquet(docsT),
      count(when(delDoc, 1)), cnt)
    val rows = Seq(
      ("ivf", "cell_rows_deleted_ids", cellsDel),
      ("ivf", "distinct_vecs", cellsDistinct),
      ("ivf", "probe_hits_deleted", leaked),
      ("minhash", "band_rows_deleted_ids",
        n(s.read.parquet(s"$mh/bands").filter(delDoc))),
      ("minhash", "sig_rows_deleted_ids", sigDel),
      ("minhash", "sig_rows_total", sigTotal),
      ("table", "docs_rows_deleted_ids", docsDel),
      ("table", "docs_rows_total", docsTotal),
      ("table", "vecs_rows_total", n(s.read.parquet(embT))),
      ("term", "postings_deleted_ids",
        n(s.read.parquet(s"$term/postings").filter(delDoc))),
      ("term", "stats_n", statsN),
      ("term", "stats_sumdl", statsDl))
    val sqlCtx = s
    import sqlCtx.implicits._
    rows.toDF("store", "metric", "value")
  }

  val q257CascadeDeleteSql: String =
    """WITH kept AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 3),
      |keptv AS (SELECT vec_id FROM embeddings WHERE vec_id % 7 <> 3)
      |SELECT 'ivf' AS store, 'cell_rows_deleted_ids' AS metric,
      |  CAST(0 AS BIGINT) AS value
      |UNION ALL SELECT 'ivf', 'distinct_vecs',
      |  (SELECT COUNT(*) FROM keptv)
      |UNION ALL SELECT 'ivf', 'probe_hits_deleted', CAST(0 AS BIGINT)
      |UNION ALL SELECT 'minhash', 'band_rows_deleted_ids',
      |  CAST(0 AS BIGINT)
      |UNION ALL SELECT 'minhash', 'sig_rows_deleted_ids',
      |  CAST(0 AS BIGINT)
      |UNION ALL SELECT 'minhash', 'sig_rows_total',
      |  (SELECT COUNT(*) FROM kept)
      |UNION ALL SELECT 'table', 'docs_rows_deleted_ids',
      |  CAST(0 AS BIGINT)
      |UNION ALL SELECT 'table', 'docs_rows_total',
      |  (SELECT COUNT(*) FROM kept)
      |UNION ALL SELECT 'table', 'vecs_rows_total',
      |  (SELECT COUNT(*) FROM keptv)
      |UNION ALL SELECT 'term', 'postings_deleted_ids',
      |  CAST(0 AS BIGINT)
      |UNION ALL SELECT 'term', 'stats_n', (SELECT COUNT(*) FROM kept)
      |UNION ALL SELECT 'term', 'stats_sumdl',
      |  (SELECT CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
      |   FROM kept)""".stripMargin

  // ---------------------------------------------------------------------
  // q258_purged_probe — the strongest form of the cascade oracle: BM25
  // top-k THROUGH the purged term index must hash-match a from-scratch
  // DuckDB BM25 over the FILTERED corpus (q107's query, q129's
  // index-invisibility contract, now across a delete). Every purge
  // defect is visible here: a surviving posting re-ranks a deleted doc
  // in, a wrong stats subtraction moves idf/avgdl and every score.
  // ---------------------------------------------------------------------
  def q258PurgedProbe(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val (_, _, term, _, _) = ensureFixture(s, dir)
    graft.operators.TermIndex.probeTermIndex(s, term,
      Seq("spark", "merge", "window"), k = 15)
  }

  /** q107's oracle with the corpus filtered to the kept docs — the
    * purged index must be indistinguishable from a rebuild. */
  val q258PurgedProbeSql: String = {
    val base = graft.operators.TextAnalysis.q107Bm25Sql
    require(base.contains("FROM documents)"),
      "q107 oracle shape moved; update the q258 filter rewrite")
    base.replace("FROM documents)",
      "FROM documents WHERE doc_id % 7 <> 3)")
  }

  // ---------------------------------------------------------------------
  // q262_purged_stores — the cascade extended to the three store
  // families round 9 left uncovered (a forgotten doc's content
  // fingerprints, graph identity, and frequency contributions must ALL
  // leave): the gram-presence index (q171's lifecycle), the incremental
  // component store (q101's lifecycle over a deterministic derived
  // graph), and a maintained Count–Min store (q125's counters, here
  // sync-maintained through Rollup). Each builds through build+append,
  // then every doc_id ≡ 3 (mod 7) cascade-deletes through
  // Cascade.deleteByKey with the new Gram/Comp/Cms targets. The oracle
  // is the FILTERED corpus, from scratch: novelty THROUGH the purged
  // gram index, the component membership checksum THROUGH the purged
  // store (splits, renames, isolations included — the edge formula
  // plants cut vertices among the deleted ids), and the CM estimates
  // THROUGH the retracted counters must each equal what DuckDB computes
  // over `WHERE doc_id % 7 <> 3`.
  // ---------------------------------------------------------------------
  private val CmsW = 128
  private val CmsKeyExpr = "pmod(doc_id, 211)"

  /** Derived deterministic graph over the doc-id space: star edges
    * (id → its multiple-of-5 hub) plus chain links joining adjacent
    * hubs at id % 20 == 4 — so deleting ids % 7 == 3 hits hubs (cut
    * vertices → stars shatter, members isolate) and links (components
    * split) as well as leaves. */
  private def derivedEdges(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val stars = d.filter(pmod(col("doc_id"), lit(5L)) =!= 0L)
      .select(col("doc_id").as("a"),
        (col("doc_id") - pmod(col("doc_id"), lit(5L))).as("b"))
    val links = d.filter(pmod(col("doc_id"), lit(20L)) === 4L)
      .select(col("doc_id").as("a"), (col("doc_id") + 1L).as("b"))
    stars.unionByName(links)
  }

  private def ensureFixture262(s: SparkSession, dir: String)
      : (String, String, String, String) = {
    import org.apache.spark.sql.functions._
    val root = s"$gateBase/c262_${dir.hashCode.toHexString}"
    val docsT = s"$root/docs"; val gram = s"$root/gram"
    val comp = s"$root/comp"; val cms = s"$root/cms"
    if (!new java.io.File(s"$root.complete").exists()) {
      val d = graft.operators.t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      d.write.mode("overwrite").parquet(docsT)
      graft.operators.GramIndex.buildGramIndex(s,
        d.filter(col("doc_id") % 2 === 0), 5, gram)
      graft.operators.GramIndex.appendToGramIndex(s,
        d.filter(col("doc_id") % 2 === 1), 5, gram)
      val edges = derivedEdges(d)
      val base = edges.filter((col("a") + col("b")) % 2 === 0)
      val batch = edges.filter((col("a") + col("b")) % 2 =!= 0)
      graft.operators.Components.buildComponentStore(s, comp, base)
      graft.operators.Components.appendEdges(s, comp, batch)
      graft.operators.Components.appendEdges(s, comp, batch) // replay
      graft.operators.Sketches.initCmsStore(s, cms,
        d.filter(col("doc_id") % 2 === 0), expr(CmsKeyExpr), CmsW, "b0")
      graft.operators.Sketches.mergeCmsStore(s, cms,
        d.filter(col("doc_id") % 2 === 1), expr(CmsKeyExpr), CmsW, "b1")
      val keys: Seq[Any] = d.filter(col("doc_id") % 7 === 3)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      deleteByKey(s, docsT, "doc_id", keys,
        Seq(Target.Gram(gram), Target.Comp(comp),
          Target.Cms(cms, CmsKeyExpr, CmsW)))
      new java.io.File(s"$root.complete").createNewFile()
    }
    (docsT, gram, comp, cms)
  }

  def q262PurgedStores(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val (_, gram, comp, cms) = ensureFixture262(s, dir)
    val del7 = col("doc_id") % 7 === 3
    // gram: probe the %4==3 docs (from the untouched source — q171's
    // probe set) through the PURGED index
    val probeDocs = graft.operators.t(s, dir, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") % 4 === 3)
    val nov = graft.operators.GramIndex
      .noveltyProbe(s, probeDocs, 5, gram)
      .agg(sum(col("n_grams")).as("g"), sum(col("n_novel")).as("n"))
      .head()
    // comp: identity rows and membership checksum through the store
    val labels = graft.operators.Components.readComponents(s, comp)
    val compRow = labels.agg(count(lit(1)).as("n"),
      sum(col("id") * lit(100003L) + col("comp")).as("ck")).head()
    val edgeLeaks = s.read.parquet(s"$comp/edges")
      .filter((col("a") % 7 === 3) || (col("b") % 7 === 3)).count()
    // cms: estimates for probe keys 0..49 through the retracted store
    val probes = s.range(0, 50).select(col("id").as("key"))
    val cmsStore = graft.operators.Sketches.readCmsStore(s, cms)
    val estSum = graft.operators.Sketches
      .cmsEstimate(cmsStore, probes, "key", CmsW)
      .agg(sum(col("est"))).head().getLong(0)
    val cmsAgg = cmsStore.agg(count(lit(1)).as("cells"),
      sum(col("cnt")).as("total")).head()
    val rows = Seq(
      ("cms", "cells", cmsAgg.getLong(0)),
      ("cms", "est_sum", estSum),
      ("cms", "total", cmsAgg.getLong(1)),
      ("comp", "checksum", compRow.getLong(1)),
      ("comp", "edge_rows_deleted_ids", edgeLeaks),
      ("comp", "label_rows_deleted_ids",
        labels.filter(col("id") % 7 === 3).count()),
      ("comp", "n_nodes", compRow.getLong(0)),
      ("gram", "grams_sum", nov.getLong(0)),
      ("gram", "novel_sum", nov.getLong(1)),
      ("gram", "rows_deleted_ids",
        s.read.parquet(s"$gram/grams").filter(del7).count()))
    val sqlCtx = s
    import sqlCtx.implicits._
    rows.toDF("store", "metric", "value")
  }

  val q262PurgedStoresSql: String = {
    val cmsArms = graft.operators.Sketches
      .cmsBuildArmsSql("kept", "doc_id % 211", CmsW)
    val probeArms = graft.operators.Sketches
      .cmsProbeArmsSql("probes", "key", CmsW)
    s"""WITH RECURSIVE kept AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 3),
       |cms AS (
       |  SELECT j, bucket, COUNT(*) AS cnt FROM (
       |  $cmsArms)
       |  GROUP BY j, bucket),
       |probes AS (SELECT CAST(i AS BIGINT) AS key
       |           FROM UNNEST(range(0, 50)) AS gg(i)),
       |pb AS (
       |  $probeArms),
       |est AS (
       |  SELECT pb.key, MIN(COALESCE(cms.cnt, 0)) AS est
       |  FROM pb LEFT JOIN cms ON pb.j = cms.j AND pb.bucket = cms.bucket
       |  GROUP BY pb.key),
       |alledges AS (
       |  SELECT doc_id AS a, doc_id - (doc_id % 5) AS b
       |  FROM documents WHERE doc_id % 5 <> 0
       |  UNION ALL
       |  SELECT doc_id AS a, doc_id + 1 AS b
       |  FROM documents WHERE doc_id % 20 = 4),
       |fedges0 AS (
       |  SELECT a, b FROM alledges WHERE a % 7 <> 3 AND b % 7 <> 3),
       |fedges AS (SELECT a, b FROM fedges0
       |           UNION SELECT b, a FROM fedges0),
       |reach(id, r) AS (
       |  SELECT DISTINCT a, a FROM fedges
       |  UNION
       |  SELECT x.id, e.b FROM reach x JOIN fedges e ON e.a = x.r),
       |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
       |w AS (SELECT doc_id, string_split(text, ' ') AS ws
       |      FROM documents),
       |wd AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ws[i] AS word
       |       FROM w, UNNEST(range(1, len(ws) + 1)) AS gg(i)),
       |gr AS (SELECT doc_id,
       |         word || '|' || lead(word, 1) OVER dw || '|' ||
       |         lead(word, 2) OVER dw || '|' || lead(word, 3) OVER dw ||
       |         '|' || lead(word, 4) OVER dw AS g
       |       FROM wd WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
       |refg AS (SELECT DISTINCT g FROM gr
       |         WHERE doc_id % 7 <> 3 AND g IS NOT NULL),
       |dg AS (SELECT doc_id, g FROM gr
       |       WHERE doc_id % 4 = 3 AND g IS NOT NULL),
       |nov AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS grams_sum,
       |    CAST(SUM(CASE WHEN refg.g IS NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS novel_sum
       |  FROM dg LEFT JOIN refg ON dg.g = refg.g)
       |SELECT 'cms' AS store, 'cells' AS metric,
       |  (SELECT COUNT(*) FROM cms) AS value
       |UNION ALL SELECT 'cms', 'est_sum',
       |  (SELECT CAST(SUM(est) AS BIGINT) FROM est)
       |UNION ALL SELECT 'cms', 'total',
       |  (SELECT CAST(SUM(cnt) AS BIGINT) FROM cms)
       |UNION ALL SELECT 'comp', 'checksum',
       |  (SELECT CAST(SUM(id * 100003 + component) AS BIGINT) FROM comp)
       |UNION ALL SELECT 'comp', 'edge_rows_deleted_ids',
       |  CAST(0 AS BIGINT)
       |UNION ALL SELECT 'comp', 'label_rows_deleted_ids',
       |  CAST(0 AS BIGINT)
       |UNION ALL SELECT 'comp', 'n_nodes', (SELECT COUNT(*) FROM comp)
       |UNION ALL SELECT 'gram', 'grams_sum',
       |  (SELECT grams_sum FROM nov)
       |UNION ALL SELECT 'gram', 'novel_sum',
       |  (SELECT novel_sum FROM nov)
       |UNION ALL SELECT 'gram', 'rows_deleted_ids',
       |  CAST(0 AS BIGINT)""".stripMargin
  }
}
