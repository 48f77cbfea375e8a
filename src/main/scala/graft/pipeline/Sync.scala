package graft.pipeline

import java.io.{BufferedInputStream, BufferedOutputStream}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.{LongAccumulator, SerializableConfiguration}

import graft.catalog.CatalogSync
import graft.model.CDTable

/** The sync pipeline — a faithful Spark-native re-expression of the
  * reference's orchestrator (`sync-canvas-data-files.py:12-147`):
  *
  *   state scan (A1) → manifest scan (A2) → key projection (A3) →
  *   diff toFetch (A4) / toDelete (A5) + skip counting (A6) →
  *   parallel fetch fan-out (A7, Spark tasks replace Lambda invocations)
  *   with idempotency guard (A14) and bounded-memory streaming copy (A15) →
  *   stale delete (A9) → catalog upsert (A10-A12) → summary (A13),
  *   all behind a dry-run gate (A16).
  *
  * Both sides of the diff are driver collections by construction: the
  * manifest arrives as a `Seq` (the reference's one API response) and
  * the state scan is one recursive listing into a driver buffer. The
  * diff is therefore two hash-set lookups per key — O(files), no Spark
  * job — where the reference mutates a Python list in an O(n²)
  * membership loop (`:62-67`). The cardinality is the FILE count, not
  * rows; Spark enters only where the work is per-file I/O: the fetch
  * and stale-delete fan-outs, each launched only when it has work, so a
  * no-op sync runs no diff or fan-out job at all.
  *
  * The reference's time-budget continuation (A8, `:88-98`) has no Spark
  * analog — jobs aren't time-capped — but its *real* invariant survives:
  * sync is idempotent and restartable; re-running converges (spec-tested,
  * incl. the ScalaCheck convergence property).
  */
object Sync {

  /** A file the source-of-truth says should exist
    * (`{'files': [{table, filename, url}]}`, `sync-canvas-data-files
    * .py:47-48`). */
  final case class ManifestEntry(table: String, filename: String, url: String)

  /** Diff of manifest vs warehouse state (A4/A5/A6). */
  final case class SyncPlan(
      toFetch: Seq[FetchTask],
      toSkip: Seq[String],
      toDelete: Seq[String])

  /** What the fetch fan-out ships to a worker — the analog of the Lambda
    * event payload `{file_url, s3_bucket, key}` (`:72-76`). */
  final case class FetchTask(key: String, url: String)

  /** The reference's run summary (`:131-139`), minus the reinvocation
    * counter (no time cap to continue around), plus per-file failure
    * accounting: unlike one Lambda-per-file (where a failed fetch dies
    * alone, `fetch-canvas-data-file.py`), a Spark task covers many files —
    * so failures are caught per file, reported here, and the run completes;
    * re-running converges (failed keys are still absent, so they are
    * re-planned as toFetch). */
  final case class SyncSummary(
      totalFiles: Long,
      fetched: Long,
      skipped: Long,
      removed: Long,
      tablesCreated: Long,
      tablesUpdated: Long,
      dryRun: Boolean,
      failed: Long = 0L,
      failedKeys: Seq[String] = Seq.empty)

  /** Outcome of the fetch fan-out. */
  final case class FetchResult(fetched: Long, failedKeys: Seq[String])

  val RawPrefix = "raw_files"
  private val ChunkSize = 8 * 1024 * 1024 // 8 MiB, fetch-canvas-data-file.py:20

  /** A1 — state scan: enumerate existing warehouse keys under the raw
    * prefix (relative to `warehouseDir`). */
  def listState(spark: SparkSession, warehouseDir: String): Seq[String] = {
    val fs = Fs.of(warehouseDir, spark)
    val root = new Path(s"$warehouseDir/$RawPrefix")
    if (!fs.exists(root)) Seq.empty
    else {
      val rootPath = new Path(warehouseDir).toUri.getPath
      Fs.filesUnder(fs, root).filter(_.isFile).map(
        _.getPath.toUri.getPath.stripPrefix(rootPath).stripPrefix("/"))
    }
  }

  /** A3 — key projection: manifest entry → storage key
    * `raw_files/{table}/{filename}` (`:60`). */
  def keyOf(e: ManifestEntry): String = s"$RawPrefix/${e.table}/${e.filename}"

  /** A4/A5/A6 — the diff: set membership over the two key lists
    * (manifest order and multiplicity kept, as a semi/anti join would). */
  def plan(manifest: Seq[ManifestEntry], state: Seq[String]): SyncPlan = {
    val have = state.toSet
    val (skip, fetch) = manifest.partition(e => have(keyOf(e)))
    val want = manifest.iterator.map(keyOf).toSet
    SyncPlan(fetch.map(e => FetchTask(keyOf(e), e.url)), skip.map(keyOf),
      state.filterNot(want))
  }

  /** A7 + A14 + A15 — parallel fetch: one Spark task partition per batch of
    * files (replacing one Lambda per file), each copy guarded by an
    * exists-check (Spark WILL re-run failed/speculative tasks — same
    * at-least-once delivery the reference guards against) and streamed in
    * 8 MiB chunks so executor memory stays bounded no matter the file size.
    */
  def fetchAll(spark: SparkSession, warehouseDir: String,
      toFetch: Seq[FetchTask], parallelism: Int = 32,
      dryRun: Boolean = false): FetchResult = {
    if (dryRun) {
      toFetch.foreach(t =>
        println(s"[dry-run] would fetch ${t.url} -> ${t.key}"))
      FetchResult(0L, Seq.empty)
    } else if (toFetch.isEmpty) FetchResult(0L, Seq.empty)
    else {
      val fetchedAcc: LongAccumulator =
        spark.sparkContext.longAccumulator("fetched")
      val failedAcc =
        spark.sparkContext.collectionAccumulator[String]("failedKeys")
      val conf = new SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      spark.sparkContext.parallelize(toFetch,
          math.max(1, math.min(parallelism, toFetch.size))).foreachPartition {
        (it: Iterator[FetchTask]) =>
          val fs = Fs.of(warehouseDir, conf.value)
          val log = org.slf4j.LoggerFactory.getLogger(Sync.getClass)
          it.foreach { task =>
            val target = new Path(s"$warehouseDir/${task.key}")
            val tmp = new Path(target.getParent,
              s".${target.getName}.inprogress")
            // Failure isolation: one bad URL must not abort the whole
            // partition (one failed fetch Lambda doesn't kill the
            // reference's run either) — catch per file, report in the
            // summary, converge on re-run.
            try {
              // A14 idempotency guard (fetch-canvas-data-file.py:25-31)
              if (!fs.exists(target)) {
                val in = new BufferedInputStream(
                  new java.net.URI(task.url).toURL.openStream(), ChunkSize)
                try {
                  val out = new BufferedOutputStream(fs.create(tmp, true), ChunkSize)
                  try {
                    val buf = new Array[Byte](ChunkSize)
                    var n = in.read(buf)
                    while (n >= 0) {
                      if (n > 0) out.write(buf, 0, n) // skip keep-alive chunks
                      n = in.read(buf)
                    }
                  } finally out.close()
                  // atomic publish: a half-written file never becomes state
                  if (fs.rename(tmp, target)) fetchedAcc.add(1L)
                  else {
                    log.warn(s"fetch ${task.key}: publish rename failed")
                    failedAcc.add(task.key)
                    fs.delete(tmp, false)
                  }
                } finally in.close()
              }
            } catch {
              case e: Exception =>
                log.warn(s"fetch ${task.key} failed: ${e.getMessage}")
                failedAcc.add(task.key)
                try fs.delete(tmp, false) catch { case _: Exception => () }
            }
          }
      }
      import scala.jdk.CollectionConverters._
      FetchResult(fetchedAcc.value,
        failedAcc.value.asScala.toSeq.distinct.sorted)
    }
  }

  /** A9 — stale delete: state keys no longer in the manifest, deleted
    * task-parallel (one object-store delete per key); no job when there
    * is nothing to delete. */
  def deleteStale(spark: SparkSession, warehouseDir: String,
      toDelete: Seq[String], dryRun: Boolean = false,
      parallelism: Int = 32): Long = {
    if (dryRun) {
      toDelete.foreach(k => println(s"[dry-run] would delete $k"))
      0L
    } else if (toDelete.isEmpty) 0L
    else {
      val removedAcc = spark.sparkContext.longAccumulator("removed")
      val conf = new SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      spark.sparkContext.parallelize(toDelete,
          math.max(1, math.min(parallelism, toDelete.size))).foreachPartition {
        (it: Iterator[String]) =>
          val fs = Fs.of(warehouseDir, conf.value)
          it.foreach { k =>
            if (fs.delete(new Path(s"$warehouseDir/$k"), false))
              removedAcc.add(1L)
          }
      }
      removedAcc.value
    }
  }

  /** Full sync run — the lambda_handler equivalent. `schema` plays the role
    * of `cd.get_schema()` (A10); pass the parsed table map. */
  def run(
      spark: SparkSession,
      warehouseDir: String,
      manifest: Seq[ManifestEntry],
      schema: Seq[CDTable],
      db: String = "canvasdata",
      dryRun: Boolean = false,
      parallelism: Int = 32,
      suppressedKeys: Set[String] = Set.empty): SyncSummary = {
    // suppressed keys (age-RETIRED raw files the upstream manifest
    // still lists — [[graft.Warehouse.retireRawOlderThan]]'s ledger)
    // leave the manifest BEFORE the diff: their bytes were reclaimed
    // deliberately, so their absence from state must read as "skip",
    // never "fetch" — the diff would otherwise resurrect every
    // retired file on the next sync forever. Bounded by file COUNT
    // (the same cardinality as the manifest itself, already a driver
    // Seq), not rows.
    val live = manifest.filterNot(e => suppressedKeys(keyOf(e)))
    val suppressed = (manifest.size - live.size).toLong
    val p = plan(live, listState(spark, warehouseDir))
    val skipped = p.toSkip.size.toLong + suppressed

    val fetch = fetchAll(spark, warehouseDir, p.toFetch, parallelism, dryRun)
    val removed =
      deleteStale(spark, warehouseDir, p.toDelete, dryRun, parallelism)

    // reference skips catalog work in dry-run (:115); the per-table
    // upserts touch disjoint catalog entries, so they run concurrently
    // once the database exists
    val outcomes =
      if (dryRun) Nil
      else {
        CatalogSync.ensureDatabase(spark, db)
        Par.map(schema, parallelism)(t =>
          CatalogSync.createOrUpdateTable(spark, db, t,
            s"$warehouseDir/$RawPrefix/${t.tableName}"))
      }
    val created = outcomes.count(_ == "created").toLong
    val updated = outcomes.size - created
    SyncSummary(
      totalFiles = manifest.size.toLong,
      fetched = if (dryRun) p.toFetch.size.toLong else fetch.fetched,
      skipped = skipped,
      removed = removed,
      tablesCreated = created,
      tablesUpdated = updated,
      dryRun = dryRun,
      failed = fetch.failedKeys.size.toLong,
      failedKeys = fetch.failedKeys)
  }
}
