package graft.pipeline

import org.apache.hadoop.fs.Path

/** Fold ALL of a listing's fresh files into a maintained store in ONE
  * batch — the backlog-proof refresh unit for the Warehouse's
  * per-sync-batch maintenance loops.
  *
  * The naive per-file loop (`fresh.foreach(f => merge(one file))`) is
  * replay-safe but pays one Spark job launch per file: a thousand-file
  * backlog (first sync after an outage) is a thousand sequential jobs.
  * The naive batch fold (`merge(fresh)`) is one job but UNSAFE under
  * crash-retry: if the fold commits (content-id'd by its file set) and
  * the covered-marker write crashes, the next run sees a GROWN listing,
  * derives a different batch id for a superset, and double-folds the
  * crashed batch's files.
  *
  * The fix is an INTENT file: the fresh set is pinned to disk before
  * the fold runs, so a retry re-folds the PINNED set — whose content id
  * the fold's own [[AppendCommit]] machinery recognizes and no-ops —
  * then lands the covered marker, converging regardless of how the
  * listing moved in between. Protocol per refresh:
  *
  *   1. complete a pending intent, if one exists: re-run the fold over
  *      the pinned set (a no-op when its commit survived), (re-)write
  *      its covered marker, drop the intent;
  *   2. diff: fresh = listing ∖ covered (covered = the union of all
  *      batch markers' file-list payloads, plus legacy per-file
  *      markers);
  *   3. pin fresh as the new intent, fold ONCE, mark covered, drop the
  *      intent.
  *
  * Covered markers are ledger entries `rawbatch-<contentId(files)>`
  * whose payload is the newline-joined file list — consumers that sum
  * additive fingerprints skip them ([[AppendCommit.cumulativeFingerprint]]
  * only folds `n|h`-shaped payloads). Single maintenance writer, same
  * contract as every store in this package.
  */
object FreshFold {

  val Tag = "rawbatch-"
  private val IntentName = "_fold_intent"

  private def intentPath(store: String) = new Path(store, IntentName)

  /** Files covered by previous folds: batch payloads plus legacy
    * per-file `<legacyTag><file>` markers (earlier Warehouse rounds
    * wrote one marker per file — they stay honored). A store whose
    * legacy ids were BARE file names (the pre-batch view protocol)
    * passes `legacyTag = ""`: every non-batch id then reads as a
    * covered file — only valid when the store's ledger holds nothing
    * else (views qualify; index stores, whose ledgers also hold
    * content-id append entries, must keep a real prefix). */
  def covered(store: String, legacyTag: String = "rawfile-"): Set[String] =
    AppendCommit.appliedEntries(store).iterator.flatMap {
      case (id, payload) =>
        if (id.startsWith(Tag))
          // decPayload: names ride the payload percent-encoded behind
          // a version header — written raw, a newline-carrying
          // filename would split into fragments, one of which marks an
          // innocent same-named file as already folded (silent missing
          // data in the store). Headerless legacy payloads read
          // VERBATIM: a legacy name containing a literal '%0A' must
          // stay itself, not decode into a different name.
          AppendCommit.decPayload(payload).iterator
        else if (id.startsWith(legacyTag))
          Iterator.single(id.stripPrefix(legacyTag))
        else Iterator.empty
    }.toSet

  /** The pinned-but-not-yet-marked file set of a crashed refresh, if
    * any. Callers run their stale-delete rebuild check over
    * `covered ∪ pendingIntent` BEFORE [[foldFresh]]: a pinned file that
    * has since been deleted cannot be folded (and a partially-committed
    * fold of it cannot be retried under a different id) — the store
    * rebuild path is the convergence for that double-fault, exactly as
    * it is for a covered-then-deleted file. */
  def pendingIntent(store: String): Option[Seq[String]] = readIntent(store)

  private def readIntent(store: String): Option[Seq[String]] = {
    val fs = Fs.of(store)
    val p = intentPath(store)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try new String(in.readAllBytes(), "UTF-8")
        finally in.close()
      Some(AppendCommit.decPayload(txt))
    }
  }

  private def writeIntent(store: String, files: Seq[String]): Unit = {
    val fs = Fs.of(store)
    fs.mkdirs(new Path(store))
    // temp + rename, never a plain overwrite create: a crash mid-write
    // would otherwise leave a TRUNCATED intent whose last line is a
    // garbage path — the next refresh would pin that corrupt set and
    // every completeOne retry would fail reading a nonexistent file,
    // wedging the store until manual intent removal. A rename either
    // lands the whole intent or leaves none (the crashed temp is
    // harmless and overwritten by the next refresh).
    val tmp = new Path(store, s".$IntentName.tmp")
    val os = fs.create(tmp, true)
    try os.write(AppendCommit.encPayload(files).getBytes("UTF-8"))
    finally os.close()
    fs.delete(intentPath(store), false) // rename won't overwrite on all FS
    if (!fs.rename(tmp, intentPath(store)))
      throw new java.io.IOException(
        s"cannot place fold intent at ${intentPath(store)}")
  }

  private def batchId(files: Seq[String]): String =
    Tag + AppendCommit.contentId(files.sorted.mkString("\n"))

  private def completeOne(store: String, files: Seq[String])
      (fold: (Seq[String], String) => Unit): Unit = {
    val id = batchId(files)
    if (!AppendCommit.isApplied(store, id)) fold(files, id)
    // (re-)write the marker WITH its payload: the fold may have marked
    // the id itself (JoinView.merge's appendBatch does) with an empty
    // payload — the covered set needs the file list (header-versioned
    // encLine'd names; [[covered]] decodes behind the header)
    AppendCommit.markApplied(store, id,
      AppendCommit.encPayload(files.sorted))
    Fs.of(store).delete(intentPath(store), false)
  }

  /** Fold `listing ∖ covered` in one `fold(files, ledgerId)` call.
    * `fold` MUST be replay-idempotent for an identical file set — use
    * the passed ledgerId as its [[AppendCommit]] batch id, or commit
    * through a content-derived id of its own (both no-op on replay).
    * Returns the number of files folded this call (0 = nothing fresh).
    * `legacyTag` honors per-file markers from the pre-batch protocol. */
  def foldFresh(store: String, listing: Seq[String],
      legacyTag: String = "rawfile-")
      (fold: (Seq[String], String) => Unit): Int = {
    // 1. a crashed earlier refresh left its pinned set — converge it
    //    BEFORE diffing, or its files would re-enter fresh under a
    //    different batch id and double-fold
    readIntent(store).foreach { pinned =>
      completeOne(store, pinned)(fold)
    }
    // 2. diff against everything covered so far
    val done = covered(store, legacyTag)
    val fresh = listing.filterNot(done.contains)
    if (fresh.isEmpty) 0
    else {
      // 3. pin, fold once, mark, unpin
      writeIntent(store, fresh)
      completeOne(store, fresh)(fold)
      fresh.size
    }
  }
}
