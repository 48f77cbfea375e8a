package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{AppendCommit, Maintain, PersistedStore}

/** The one persisted lifecycle behind every vector index — IVF
  * ([[Similarity]]), PQ, IVFADC and IVF-SQ8 ([[Quantize]]). A [[Spec]]
  * names the kind: optional cell ROUTING (spherical k-means centroids,
  * every row stored in its `replicas` best cells — SPANN-style boundary
  * multi-assignment) and a [[Codec]] deciding what a stored row
  * carries. Only the encoding math differs by kind; build, ensure,
  * append, purge, compact and the streaming sink are written once here.
  * Layout under the index dir:
  *   centroids/            (cell, centroid) — routed kinds
  *   codebook/ | sqparams/ the frozen codec model — [[Pq]] | [[Sq8]]
  *   cells/cell=N/         stored rows — routed kinds (partition-pruned
  *                         probes read only their probed cells)
  *   codes/                stored rows — unrouted (plain PQ)
  *   _drift_base           build-time mean top-1 affinity — routed kinds
  *   _corpus_fingerprint   [[Spec.marker]], immutable after build
  *   _applied/             AppendCommit ledger: `n|h` per append,
  *                         `-n|-h` per purge
  * Build replaces the whole tree behind SafeSwap, so probes never see a
  * half-built index. Appends route and encode under the FROZEN
  * centroids and codec model: under distribution drift cells grow
  * unbalanced and codes clamp, which the periodic retrain-rebuild
  * repairs — the append makes it cheap to defer, not obsolete. Batch
  * vec_ids are assumed disjoint from the corpus (the sync layer's
  * immutable-file contract). */
object VectorIndex {

  /** What a stored row carries next to `vec_id`. */
  sealed trait Codec
  /** The original embedding (`embedding` column) — plain IVF. */
  case object Raw extends Codec
  /** `m` product-quantization sub-codes over `k` sub-centroids each,
    * under a frozen `codebook/` ([[Quantize.pqEncodeCol]]). */
  final case class Pq(m: Int = 8, k: Int = 16) extends Codec
  /** One code per dimension under frozen per-dimension `sqparams/`
    * ([[Quantize.sqEncodeCol]]). */
  case object Sq8 extends Codec

  final case class Routing(nlist: Int, replicas: Int)

  final case class Spec(codec: Codec, routing: Option[Routing] = None) {
    require(routing.nonEmpty || codec != Raw,
      "an unrouted index must store codes: Raw needs cell routing")

    /** `_corpus_fingerprint` text over corpus fingerprint `fp` (`n|h`):
      * `n|h[|nlist=..|replicas=..][|m=..|k=..|sq=8]`. Ensure compares
      * it against the cumulative fingerprint, so any param change is a
      * rebuild. */
    def marker(fp: String): String = fp +
      routing.fold("")(r => s"|nlist=${r.nlist}|replicas=${r.replicas}") +
      (codec match {
        case Raw => ""
        case Pq(m, k) => s"|m=$m|k=$k"
        case Sq8 => "|sq=8"
      })

    /** The stored rows' dir under the index. */
    private[operators] def rowsDir: String =
      if (routing.isDefined) "cells" else "codes"
  }

  object Spec {
    /** The spec a store was built with, read back from its marker. */
    private[operators] def parse(marker: String): Spec = {
      val kv = marker.split('|').drop(2).map { p =>
        val Array(k, v) = p.split("=", 2); k -> v
      }.toMap
      Spec(
        if (kv.contains("sq")) Sq8
        else if (kv.contains("m")) Pq(kv("m").toInt, kv("k").toInt)
        else Raw,
        kv.get("nlist").map(n => Routing(n.toInt, kv("replicas").toInt)))
    }
  }

  /** A codec's trained state: the stored column for an embedding, and
    * the model files a build persists next to the rows. */
  private sealed trait Model {
    def stored(emb: Column): Column
    def write(spark: SparkSession, dir: String): Unit
  }
  private case object RawModel extends Model {
    def stored(emb: Column): Column = emb
    def write(spark: SparkSession, dir: String): Unit = ()
  }
  private final case class PqModel(cb: Quantize.Codebook) extends Model {
    def stored(emb: Column): Column = Quantize.pqEncodeCol(cb, emb).as("codes")
    def write(spark: SparkSession, dir: String): Unit =
      Quantize.writeCodebook(spark, dir, cb)
  }
  private final case class Sq8Model(mns: Array[Double],
      scales: Array[Double]) extends Model {
    def stored(emb: Column): Column =
      Quantize.sqEncodeCol(emb, mns, scales).as("codes")
    def write(spark: SparkSession, dir: String): Unit =
      Quantize.writeSqParams(spark, dir, mns, scales)
  }

  private def train(codec: Codec, e: DataFrame): Model = codec match {
    case Raw => RawModel
    case Pq(m, k) => PqModel(Quantize.trainPqCodebook(e, m, k))
    case Sq8 => val (mns, scales) = Quantize.sqParams(e); Sq8Model(mns, scales)
  }

  private def readModel(spark: SparkSession, codec: Codec,
      dir: String): Model = codec match {
    case Raw => RawModel
    case _: Pq => PqModel(Quantize.readCodebook(spark, dir))
    case Sq8 =>
      val (mns, scales) = Quantize.readSqParams(spark, dir)
      Sq8Model(mns, scales)
  }

  /** The index's centroids, ordered by cell — nlist × dim doubles. The
    * first store read of every routed probe, so it heals a crashed
    * build swap first. */
  private[operators] def readCentroids(spark: SparkSession,
      dir: String): Array[Array[Double]] = PersistedStore.open(dir) {
    spark.read.parquet(s"$dir/centroids").orderBy(col("cell")).collect()
      .map(_.getSeq[Double](1).toArray)
  }

  /** One projection writes the rows: `vec_id`, the codec's stored
    * column, and — routed — the `replicas` best cells, exploded into
    * the cell partitions. */
  private def writeRows(df: DataFrame,
      cells: Option[(Array[Array[Double]], Int)], model: Model,
      dir: String): Unit = {
    val stored = Seq(col("vec_id"), model.stored(col("embedding")))
    cells match {
      case Some((centroids, replicas)) =>
        df.select(stored :+ explode(Similarity.bestCells(centroids,
            col("embedding"), replicas)).as("cell"): _*)
          .write.partitionBy("cell").parquet(s"$dir/cells")
      case None => df.select(stored: _*).write.parquet(s"$dir/codes")
    }
  }

  private val MarkerFile = "_corpus_fingerprint"

  /** The spec of the index at `dir` — its params are FROZEN at build,
    * so appends and purges follow the store, not the caller. */
  private def storedSpec(spark: SparkSession, dir: String): Spec = {
    val fs = graft.pipeline.Fs.of(dir, spark)
    val marker = new org.apache.hadoop.fs.Path(dir, MarkerFile)
    require(fs.exists(marker),
      s"no vector index at $dir (missing fingerprint marker)")
    val in = fs.open(marker)
    Spec.parse(try new String(in.readAllBytes(), "UTF-8").trim
      finally in.close())
  }

  /** Train and write the whole index behind SafeSwap. `ledger` entries
    * commit atomically inside the swap (payload "0|0": the base marker
    * already covers the founding batch) — the streaming bootstrap's
    * crash-safety hinge ([[foreachBatchSink]]). The drift baseline and
    * the corpus fingerprint ride the rows write as observed sidecars
    * (below the explode, so each corpus row counts once): a build pays
    * its training passes plus the rows write, never a dedicated pass. */
  def build(spark: SparkSession, spec: Spec, e: DataFrame, dir: String,
      ledger: Seq[(String, String)] = Nil): Unit = {
    val cells = spec.routing.map(r =>
      (Similarity.trainCentroids(e, r.nlist), r.replicas))
    val model = train(spec.codec, e)
    val obsFp = new org.apache.spark.sql.Observation()
    val Seq(n, h) =
      PersistedStore.fingerprintCols(col("vec_id"), col("embedding"))
    val withFp = e.observe(obsFp, n, h)
    val affinity = cells.map(c => Similarity.observeTopAffinity(withFp, c._1))
    PersistedStore.build(dir, ledger) { tmp =>
      import spark.implicits._
      cells.foreach { case (centroids, _) =>
        centroids.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
          .toDF("cell", "centroid").coalesce(1)
          .write.parquet(s"$tmp/centroids")
      }
      model.write(spark, tmp)
      writeRows(affinity.fold(withFp)(_._1), cells, model, tmp)
      affinity.foreach { case (_, obs) =>
        Similarity.writeDriftBase(spark, tmp,
          Similarity.observedAffinity(obs))
      }
      val os = graft.pipeline.Fs.of(tmp, spark).create(
        new org.apache.hadoop.fs.Path(tmp, MarkerFile), true)
      try os.write(spec.marker(observedFingerprint(obsFp))
        .getBytes("UTF-8"))
      finally os.close()
    }
  }

  /** Read back the observed `n|h` after the observed plan's action
    * completed — what [[Similarity.corpusFingerprint]] computes in its own
    * pass (the fold is exact and order-insensitive; spec-pinned). */
  private def observedFingerprint(
      obs: org.apache.spark.sql.Observation): String = {
    val m = obs.get
    s"${m.getOrElse("n", 0L)}|${m.get("h").collect {
      case d: java.math.BigDecimal => d.toBigInteger.toString
    }.getOrElse("0")}"
  }

  /** Build-if-stale: rebuilds when the corpus content or the spec
    * changed since the persisted state (build base + applied ledger
    * entries — one metadata read plus one fingerprint pass). A crashed
    * build swap heals first, so it never reads as a missing index.
    * Returns true when a rebuild ran. */
  def ensure(spark: SparkSession, spec: Spec, e: DataFrame,
      dir: String): Boolean = PersistedStore.open(dir) {
    val expected = spec.marker(Similarity.corpusFingerprint(e))
    if (AppendCommit.cumulativeFingerprint(dir).contains(expected)) false
    else { build(spark, spec, e, dir); true }
  }

  /** Append a batch without touching the corpus: rows route and encode
    * under the store's FROZEN centroids and model, and land as new
    * files in only the affected `cells/cell=N/` dirs (or `codes/`) —
    * every other file keeps its on-disk identity. The batch's additive
    * `n|h` fingerprint is the payload of its AppendCommit ledger entry
    * (staged write → tagged move → ledger entry LAST), so a replayed
    * batch is a no-op, a crash-retry re-places the same files without
    * duplication, and the fingerprint advances exactly once: a later
    * [[ensure]] over the union sees a match and does not rebuild. */
  def append(spark: SparkSession, batch: DataFrame, dir: String): Unit = {
    // one pass over the batch: idempotency key AND ledger payload
    val fpBatch = Similarity.corpusFingerprint(batch)
    PersistedStore.append(spark, dir, AppendCommit.contentId(fpBatch),
        fpBatch) {
      val spec = storedSpec(spark, dir)
      val cells = spec.routing.map(r =>
        (readCentroids(spark, dir), r.replicas))
      val model = readModel(spark, spec.codec, dir)
      writeRows(batch, cells, model, _)
    }
  }

  /** RTBF cascade hook: physically remove `vecIds`' rows (embeddings
    * and codes are both decodable content) and SUBTRACT their
    * contribution from the cumulative fingerprint through a negative
    * `-n|-h` ledger entry, so an [[ensure]] over the filtered corpus
    * still matches and no probe can reach a purged vector. A [[Raw]]
    * store computes it from its own rows (replicas collapsed); a code
    * store holds no embeddings, so `deleted` must supply the ids'
    * (vec_id, embedding) rows, captured before the corpus's own purge —
    * on a retry the staged intent wins and `deleted` is never read.
    * Returns stored rows removed (≈ replicas × vecs present); centroids
    * and model stay frozen. */
  def purge(spark: SparkSession, dir: String, vecIds: Seq[Any],
      deleted: => DataFrame): Long = PersistedStore.open(dir) {
    val spec = storedSpec(spark, dir)
    val rows = spec.rowsDir
    PersistedStore.purge(spark, dir, vecIds, "vec_id", rows) {
      val gone = spec.codec match {
        case Raw => Maintain.matchingKeys(
          spark.read.parquet(s"$dir/$rows"), "vec_id", vecIds)
        case _ => deleted
      }
      Similarity.corpusFingerprint(
          gone.select(col("vec_id"), col("embedding")).distinct())
        .split('|').map(x => (-BigInt(x)).toString).mkString("|")
    }
  }

  private[graft] val family: PersistedStore.Family =
    (spark, dir, keys, deleted) => purge(spark, dir, keys, deleted())

  /** Cell-file compaction of a routed index: every append lands one
    * small file set per affected cell, so daily batches fragment the
    * cells and probes pay per-file open overhead. Each over-fragmented
    * cell coalesces behind its own per-partition SafeSwap
    * ([[graft.pipeline.Maintain.compactPartitions]]): content-identical,
    * ledger, marker and model untouched, untouched cells keep physical
    * file identity. Run on the retrain cadence.
    *
    * ORDERING CAVEAT (single-writer contract, as
    * [[graft.operators.Dedup.compactMinhashIndex]]): converge any
    * crashed append FIRST — compacting while a crashed batch's
    * tag-named partial files sit in the tree folds them into the
    * compacted output, and the batch's retry would then re-place them,
    * double-counting the partial portion. */
  def compact(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024, maxFiles: Int = 4)
      : Maintain.CompactSummary = PersistedStore.open(dir) {
    Maintain.compactPartitions(spark, s"$dir/cells", targetBytes, maxFiles)
  }

  /** Streaming maintenance (`foreachBatch`): the first non-empty
    * micro-batch bootstraps — the model trained on it, its content id
    * committed atomically inside the build swap — and later batches
    * append O(batch) under the frozen model, engine redelivery
    * suppressed by the content id: exactly-once on top of foreachBatch's
    * at-least-once contract. `beforeAppend` sees every appended batch
    * with its engine batch id (drift evidence). */
  def foreachBatchSink(spec: Spec, dir: String,
      beforeAppend: (DataFrame, Long) => Unit = (_, _) => ())
      : (DataFrame, Long) => Unit =
    PersistedStore.foreachBatchSink(dir, MarkerFile) { (batch, _) =>
      val b = batch.localCheckpoint() // fingerprint + build consume it
      build(b.sparkSession, spec, b, dir,
        PersistedStore.founding(Similarity.corpusFingerprint(b)))
    } { (batch, batchId) =>
      beforeAppend(batch, batchId)
      append(batch.sparkSession, batch, dir)
    }

  /** Per-process base for the gate queries' indexes: a shared tmp
    * location keyed only by data dir would race across concurrent
    * bench/test JVMs (SafeSwap's rename window is not atomic across
    * processes, and tmp cleaners can reap between fingerprint check and
    * probe), so each JVM builds its own — still reused across the many
    * Verify/Bench calls within one process, where the build cost
    * matters. */
  private lazy val gateBase: String =
    java.nio.file.Files.createTempDirectory("graft_idx_").toString

  /** Deterministic per-(kind, corpus) gate index location; `prefix`
    * names the kind and its params. A warehouse deployment places its
    * indexes next to the canonical layer instead. */
  private[operators] def gateDir(prefix: String, dir: String): String =
    s"$gateBase/${prefix}_${AppendCommit.contentId(dir)}"
}
