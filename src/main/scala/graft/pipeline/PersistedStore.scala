package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

/** The one lifecycle of a persisted derived store: the MinHash index
  * ([[graft.operators.Dedup]]), the term and gram indexes, the pack
  * store ([[graft.operators.Curation]]) and the four vector-index kinds
  * ([[graft.operators.VectorIndex]]). Each family keeps only its own
  * math and layout; the protocol is written here, once:
  *
  *   - heal on entry ([[open]]): every public build, append, purge,
  *     compact, probe/read and sink entry restores a build that crashed
  *     between [[SafeSwap]]'s rename-aside and rename-in, so the op
  *     reads as if there had been no crash — an append into the empty
  *     live dir would otherwise strand the whole store in its aside copy;
  *   - build ([[build]]): the whole tree behind SafeSwap, its ledger
  *     entries written INSIDE the staged tree, so "built from batch X"
  *     and "X is applied" commit together;
  *   - append ([[append]]): one batch id through [[AppendCommit]] —
  *     replay check, then a crashed attempt's tagged files cleared
  *     BEFORE the stage is planned (a stage that reads the live tree
  *     captures its file listing eagerly), then the staged move;
  *   - purge ([[purge]]): rows leave O(hit files)
  *     ([[Maintain.deleteByKey]]) under one [[AppendCommit.purgeId]]
  *     ledger entry whose negating payload is computed once from
  *     pre-purge state and staged as an intent;
  *   - streaming ([[foreachBatchSink]]): the first non-empty micro-batch
  *     bootstraps, later ones append;
  *   - the `n|h` content fingerprint ([[fingerprintCols]]): row count
  *     plus the `decimal(38,0)` sum of `xxhash64(id, value)` — exact,
  *     order-insensitive and additive, so ledger payloads sum to the
  *     fingerprint of the accumulated corpus.
  *
  * Single maintenance writer, like every commit protocol here. */
object PersistedStore {

  /** What a cascade delete needs of a family: its purge. `deleted`
    * supplies the keys' source rows (`vec_id`, `embedding`) to a store
    * that cannot derive their contribution from its own bytes (the
    * code-only vector kinds); every other family ignores it, so it runs
    * only when the store needs it. */
  trait Family {
    def purge(spark: SparkSession, dir: String, keys: Seq[Any],
        deleted: () => DataFrame): Long
  }

  /** The `n|h` aggregate over (`id`, `value`). A long sum of 2^63-scale
    * hashes overflows (an error under ANSI mode); `decimal(38,0)` holds
    * ~10^12 rows' worth. */
  def fingerprintCols(id: Column, value: Column): Seq[Column] =
    Seq(count(lit(1)).as("n"),
      sum(xxhash64(id, value).cast("decimal(38,0)")).as("h"))

  /** `n|h` from the [[fingerprintCols]] pair at `i` of `r` (an empty
    * input reads `0|0`). */
  def fingerprintOf(r: Row, i: Int = 0): String =
    s"${r.getLong(i)}|${if (r.isNullAt(i + 1)) "0"
      else r.getDecimal(i + 1).toBigInteger.toString}"

  /** One pass: the `n|h` fingerprint of `df` over (`id`, `value`). */
  def fingerprint(df: DataFrame, id: String, value: String): String = {
    val Seq(n, h) = fingerprintCols(col(id), col(value))
    fingerprintOf(df.agg(n, h).head())
  }

  /** Run `body` on the store at `dir` after healing a crashed build swap. */
  def open[T](dir: String)(body: => T): T = {
    SafeSwap.recover(dir)
    body
  }

  /** Replace the whole store behind SafeSwap: `ledger` entries are
    * recorded inside the staged tree, then `write` fills it. */
  def build(dir: String, ledger: Seq[(String, String)] = Nil)(
      write: String => Unit): Unit =
    SafeSwap.replace(dir) { tmp =>
      ledger.foreach { case (id, payload) =>
        AppendCommit.markApplied(tmp, id, payload) }
      write(tmp)
    }

  /** The ledger of a store bootstrapped from one content-keyed batch
    * of fingerprint `fp`: its content id, payload `0|0` — the build's
    * own base already counts the batch; the id makes its redelivery a
    * no-op. */
  def founding(fp: String): Seq[(String, String)] =
    Seq(AppendCommit.contentId(fp) -> "0|0")

  /** Append batch `batchId` (ledger payload `payload`) under
    * [[AppendCommit.appendBatch]]: a no-op when applied; otherwise a
    * crashed attempt's files leave first, then `stage` is planned — so
    * its reads of the live tree never see them. Returns true when the
    * batch was placed. */
  def append(spark: SparkSession, dir: String, batchId: String,
      payload: String = "")(stage: => String => Unit): Boolean =
    open(dir) {
      !AppendCommit.isApplied(dir, batchId) &&
        AppendCommit.appendBatch(spark, dir, batchId, payload)(stage)
    }

  /** Remove `keys`' rows from `tables` (dirs under the store keyed by
    * `idCol`), recorded as [[AppendCommit.purgeId]] with payload
    * `negation` — computed once from pre-purge state and staged as an
    * intent ([[AppendCommit.runWithIntent]]), so a crash-retry reuses it
    * instead of recomputing over the purged store, and a replay no-ops.
    * Returns rows removed from the first table. */
  def purge(spark: SparkSession, dir: String, keys: Seq[Any],
      idCol: String, tables: String*)(negation: => String): Long =
    open(dir) {
      require(keys.nonEmpty, "purge needs at least one key")
      var removed = 0L
      AppendCommit.runWithIntent(dir, AppendCommit.purgeId(keys))(negation) {
        _ => removed = deleteRows(spark, dir, keys, idCol, tables)
      }
      removed
    }

  /** The unledgered purge: `keys`' rows leave `tables`, nothing is
    * recorded (idempotent — a replay finds no rows). For a store whose
    * ledger does not track content (the pack store's frontier counts
    * what was placed), or that records the negation as an [[append]] of
    * its own (the MinHash size deltas). The tables are disjoint
    * directories and delete concurrently. Returns rows removed from the
    * first table. */
  def deleteRows(spark: SparkSession, dir: String, keys: Seq[Any],
      idCol: String, tables: Seq[String]): Long =
    open(dir) {
      require(keys.nonEmpty, "purge needs at least one key")
      Par.map(tables, tables.size)(t =>
        Maintain.deleteByKey(spark, s"$dir/$t", idCol, keys).rowsDeleted)
        .head
    }

  /** Streaming maintenance (`foreachBatch`): while `builtMark` (a path
    * under the store) is absent, a non-empty micro-batch `bootstrap`s
    * the store; later ones `append`. Empty micro-batches are skipped.
    * Exactly-once follows from the batch ids the two ops record. */
  def foreachBatchSink(dir: String, builtMark: String)(
      bootstrap: (DataFrame, Long) => Unit)(
      append: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    (batch, batchId) =>
      if (!batch.isEmpty) open(dir) {
        if (Fs.of(dir, batch.sparkSession).exists(new Path(dir, builtMark)))
          append(batch, batchId)
        else bootstrap(batch, batchId)
      }
  }
}
