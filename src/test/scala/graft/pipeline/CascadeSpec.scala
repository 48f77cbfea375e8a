package graft.pipeline

import java.nio.file.Files

import graft.SparkSpec
import graft.operators.{Dedup, Quantize, Similarity, TermIndex, VectorIndex}
import org.apache.spark.sql.functions._

/** RTBF cascade ([[Cascade]]): a key delete must leave every maintained
  * derived store, and what remains must equal a from-scratch build over
  * the filtered corpus — the build≡append discipline extended to
  * deletes. */
class CascadeSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.read
    .parquet(s"$sfDir/documents.parquet").select(col("doc_id"), col("text"))
  private def emb = spark.read
    .parquet(s"$sfDir/embeddings.parquet").select(col("vec_id"), col("embedding"))

  private val delDocs: Seq[Any] = (0L until 500L).filter(_ % 7 == 3)
  private def tmp(p: String) = Files.createTempDirectory(p).toString

  test("term-index purge ≡ from-scratch rebuild over the filtered " +
      "corpus: probe bit-exact, stats subtracted, zero deleted " +
      "postings; replay no-ops") {
    val idx = tmp("casc_term") + "/idx"
    TermIndex.buildTermIndex(spark, docs.filter(col("doc_id") % 2 === 0), idx)
    TermIndex.appendToTermIndex(spark,
      docs.filter(col("doc_id") % 2 === 1), idx)
    val removed = TermIndex.purgeDocs(spark, idx, delDocs)
    assert(removed > 0L)
    assert(spark.read.parquet(s"$idx/postings")
      .filter(col("doc_id").isInCollection(delDocs)).count() == 0L,
      "index files must hold zero rows for the deleted ids")
    val fresh = tmp("casc_term_fresh") + "/idx"
    TermIndex.buildTermIndex(spark,
      docs.filter(col("doc_id") % 7 =!= 3), fresh)
    // probe with the corpus's most frequent tokens — BM25 doubles must
    // be bit-exact (identical stats, identical postings)
    val terms = docs.select(explode(split(col("text"), " ")).as("t"))
      .groupBy("t").count().orderBy(col("count").desc, col("t"))
      .limit(3).as[(String, Long)].collect().map(_._1).toSeq
    def probe(d: String) = TermIndex.probeTermIndex(spark, d, terms, 10)
      .collect().map(_.toSeq).toSeq
    assert(probe(idx) == probe(fresh),
      "post-purge probe must equal the filtered-corpus rebuild")
    assert(TermIndex.purgeDocs(spark, idx, delDocs) == 0L,
      "a replayed purge must be a ledger no-op")
    assert(probe(idx) == probe(fresh))
  }

  test("minhash purge ≡ rebuild over the filtered corpus: signatures " +
      "and live band view equal; the incremental probe cannot surface " +
      "purged docs") {
    val idx = tmp("casc_mh") + "/idx"
    Dedup.buildMinhashIndex(spark, docs.filter(col("doc_id") % 2 === 0), idx)
    Dedup.appendToMinhashIndex(spark,
      docs.filter(col("doc_id") % 2 === 1), idx)
    val removed = Dedup.purgeMinhashIndex(spark, idx, delDocs)
    assert(removed > 0L)
    val fresh = tmp("casc_mh_fresh") + "/idx"
    Dedup.buildMinhashIndex(spark, docs.filter(col("doc_id") % 7 =!= 3),
      fresh)
    def sigs(d: String) = spark.read.parquet(s"$d/signatures")
      .select(col("doc_id"), concat_ws(",", col("sig")).as("s"))
      .as[(Long, String)].collect().toSet
    def bands(d: String) = Dedup.readMinhashBands(spark, d)
      .select("doc_id", "band", "bh")
      .as[(Long, Int, Long)].collect().toSet
    assert(sigs(idx) == sigs(fresh), "signature tables must match")
    assert(bands(idx) == bands(fresh), "live band views must match")
    // probing with exact copies of the PURGED docs: the only allowed
    // matches are other (surviving) near-identical docs — never a
    // purged id
    val incoming = docs.filter(col("doc_id").isInCollection(delDocs))
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
    val hits = Dedup.incrementalNearDups(spark, idx, incoming)
      .select("a").as[Long].collect().toSet
    assert(hits.intersect(delDocs.map(_.asInstanceOf[Long]).toSet).isEmpty,
      "a purged doc must be unreachable from any probe")
  }

  test("ivf purge: cumulative fingerprint equals the filtered corpus " +
      "(ensure → NO rebuild), zero cell rows remain, probes cannot " +
      "reach purged vectors") {
    val idx = tmp("casc_ivf") + "/idx"
    Similarity.buildIvfIndex(spark, emb.filter(col("vec_id") % 2 === 0), idx)
    Similarity.appendToIvfIndex(spark,
      emb.filter(col("vec_id") % 2 === 1), idx)
    val removed = VectorIndex.purge(spark, idx, delDocs,
      spark.emptyDataFrame)
    assert(removed > 0L)
    assert(spark.read.parquet(s"$idx/cells")
      .filter(col("vec_id").isInCollection(delDocs)).count() == 0L)
    assert(!Similarity.ensureIvfIndex(spark,
      emb.filter(col("vec_id") % 7 =!= 3), idx),
      "the subtracted fingerprint must match the filtered corpus — " +
        "no spurious rebuild")
    // query WITH the purged vectors' own embeddings: their ids must
    // never appear in any result (self-match would be cosine 1.0)
    val queries = emb.filter(col("vec_id").isInCollection(delDocs))
      .limit(20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val got = Similarity.probeIvfIndex(spark, idx, queries, k = 5)
      .select("vec_id").as[Long].collect().toSet
    assert(got.intersect(delDocs.map(_.asInstanceOf[Long]).toSet).isEmpty,
      "a purged vector must be unreachable")
    assert(VectorIndex.purge(spark, idx, delDocs,
      spark.emptyDataFrame) == 0L,
      "replayed purge is a no-op")
  }

  test("pq + ivfadc purge: codes rows removed, fingerprint subtracted " +
      "from captured embeddings (ensure → no rebuild)") {
    val pq = tmp("casc_pq") + "/idx"
    val ivfpq = tmp("casc_ivfpq") + "/idx"
    Quantize.buildPqIndex(spark, emb.filter(col("vec_id") % 2 === 0), pq)
    Quantize.appendToPqIndex(spark, emb.filter(col("vec_id") % 2 === 1), pq)
    Quantize.buildIvfPqIndex(spark,
      emb.filter(col("vec_id") % 2 === 0), ivfpq)
    Quantize.appendToIvfPqIndex(spark,
      emb.filter(col("vec_id") % 2 === 1), ivfpq)
    val deleted = emb.filter(col("vec_id").isInCollection(delDocs))
    assert(VectorIndex.purge(spark, pq, delDocs, deleted) > 0L)
    assert(VectorIndex.purge(spark, ivfpq, delDocs, deleted) > 0L)
    assert(spark.read.parquet(s"$pq/codes")
      .filter(col("vec_id").isInCollection(delDocs)).count() == 0L)
    assert(spark.read.parquet(s"$ivfpq/cells")
      .filter(col("vec_id").isInCollection(delDocs)).count() == 0L)
    val filtered = emb.filter(col("vec_id") % 7 =!= 3)
    assert(!Quantize.ensurePqIndex(spark, filtered, pq))
    assert(!Quantize.ensureIvfPqIndex(spark, filtered, ivfpq))
  }

  test("Cascade.deleteByKey: one call purges table, vector indexes, " +
      "keyed view, and invalidates the rollup store; a re-run " +
      "converges") {
    val root = tmp("casc_all")
    val table = s"$root/corpus"
    emb.write.parquet(table)
    val ivf = s"$root/ivf"; val pq = s"$root/pq"
    Similarity.buildIvfIndex(spark, emb, ivf)
    Quantize.buildPqIndex(spark, emb, pq)
    val view = s"$root/view"
    val dim = Seq((0L, "even"), (1L, "odd")).toDF("par", "name")
    JoinView.init(spark, view,
      emb.withColumn("par", col("vec_id") % 2), dim, Seq("par"), "b0")
    val roll = s"$root/roll"
    // min/max partials cannot un-see rows → this store must invalidate
    val rollSpec = Rollup.Spec(groupCols = Nil,
      sumCols = Seq("vec_id"), minCols = Seq("vec_id"))
    Rollup.init(spark, roll, emb.select(col("vec_id")), rollSpec, "b0")
    val keys: Seq[Any] = delDocs
    val sum = Cascade.deleteByKey(spark, table, "vec_id", keys,
      Seq(Cascade.Target.Ivf(ivf), Cascade.Target.Pq(pq),
        Cascade.Target.View(view, "vec_id"),
        Cascade.Target.RollupStore(roll, rollSpec)))
    assert(sum.tableRowsDeleted == delDocs.size.toLong, s"$sum")
    // the receipt is complete: every target appears exactly once, under
    // its kind-qualified label, in exactly one of purged / retracted /
    // invalidated
    val labels = sum.purged.keySet ++ sum.retracted.keySet ++
      sum.invalidated.toSet
    assert(sum.purged.size + sum.retracted.size +
      sum.invalidated.size == 4 && labels == Set(
        s"ivf:$ivf", s"pq:$pq", s"view:$view", s"rollup:$roll"), s"$sum")
    assert(spark.read.parquet(table)
      .filter(col("vec_id").isInCollection(keys)).count() == 0L)
    assert(spark.read.parquet(s"$ivf/cells")
      .filter(col("vec_id").isInCollection(keys)).count() == 0L)
    assert(spark.read.parquet(s"$pq/codes")
      .filter(col("vec_id").isInCollection(keys)).count() == 0L)
    assert(JoinView.read(spark, view)
      .filter(col("vec_id").isInCollection(keys)).count() == 0L,
      "the enriched view copies must leave with the facts")
    assert(!Rollup.exists(spark, roll),
      "non-subtractable rollup partials must invalidate for rebuild")
    // convergence: the whole cascade re-runs as a no-op
    val again = Cascade.deleteByKey(spark, table, "vec_id", keys,
      Seq(Cascade.Target.Ivf(ivf), Cascade.Target.Pq(pq),
        Cascade.Target.View(view, "vec_id"),
        Cascade.Target.RollupStore(roll, rollSpec)))
    assert(again.tableRowsDeleted == 0L &&
      again.purged.values.forall(_ == 0L) &&
      again.retracted.values.forall(_ == 0L), s"$again")
  }

  test("rollup retraction: a subtractable store delta-subtracts the " +
      "deleted rows and equals a from-scratch init over the filtered " +
      "facts; the staged intent survives the table's own purge; " +
      "min/max specs refuse") {
    val spec = Rollup.Spec(groupCols = Seq("g"),
      sumCols = Seq("v"), nullCountCols = Seq("v"),
      histCols = Seq(Rollup.Hist("v", 10.0)))
    def facts = (1L to 400L).map(k =>
      (k, k % 3, if (k % 11 == 0) None else Some(k % 50))).toSeq
      .toDF("k", "g", "v")
    val store = tmp("casc_ret") + "/s"
    Rollup.init(spark, store, facts, spec, "b0")
    val deleted = facts.filter(col("k") % 7 === 3)
    assert(Rollup.retract(spark, store, deleted, spec, "purge-1") ==
      deleted.count(), "retract must receipt the fact rows retracted")
    val freshStore = tmp("casc_ret_fresh") + "/s"
    Rollup.init(spark, freshStore, facts.filter(col("k") % 7 =!= 3),
      spec, "b0")
    def readBack(d: String) = Rollup.read(spark, d, spec)
      .collect().map(_.toSeq.map {
        case m: Map[_, _] => m.toSeq.sortBy(_._1.toString).toString
        case x => String.valueOf(x)
      }).toSet
    assert(readBack(store) == readBack(freshStore),
      "retraction must equal the from-scratch filtered build")
    assert(Rollup.retract(spark, store, deleted, spec, "purge-1") == 0L,
      "replay must no-op")
    // crash-retry contract: the first attempt STAGED the deleted rows'
    // partials and died before the merge; the fact table has since
    // been purged, so the retry can only supply an EMPTY frame — the
    // staged intent must win over the empty recompute
    val deleted2 = facts.filter(col("k") % 5 === 0 && col("k") % 7 =!= 3)
    Rollup.stageRetraction(spark, store, deleted2, spec, "purge-2")
    assert(Rollup.retract(spark, store, deleted2.limit(0), spec,
      "purge-2") == deleted2.count(),
      "the retry's receipt must carry the STAGED rows, not the empty " +
        "recompute")
    val fresh2 = tmp("casc_ret_fresh2") + "/s"
    Rollup.init(spark, fresh2,
      facts.filter(col("k") % 7 =!= 3)
        .filter(!(col("k") % 5 === 0)), spec, "b0")
    assert(readBack(store) == readBack(fresh2),
      "the staged intent must drive the retry, never the recompute")
    intercept[IllegalArgumentException] {
      Rollup.retract(spark, store, deleted, Rollup.Spec(
        groupCols = Seq("g"), minCols = Seq("v")), "purge-3")
    }
  }

  test("runWithIntent: the payload is computed ONCE, pre-op; a crash " +
      "between work and promotion replays with the staged payload, " +
      "never a recompute over mutated state") {
    val root = tmp("casc_intent") + "/store"
    var computes = 0
    intercept[RuntimeException] {
      AppendCommit.runWithIntent(root, "purge-x") {
        computes += 1; "first"
      } { _ => throw new RuntimeException("crash mid-work") }
    }
    var seen: String = null
    val ran = AppendCommit.runWithIntent(root, "purge-x") {
      computes += 1; "WRONG-recompute"
    } { p => seen = p }
    assert(ran && seen == "first" && computes == 1,
      s"retry must reuse the staged intent (seen=$seen computes=$computes)")
    assert(AppendCommit.appliedEntries(root).toMap
      .get("purge-x").contains("first"))
    assert(!AppendCommit.runWithIntent(root, "purge-x")("n")(_ => fail()))
  }
}
