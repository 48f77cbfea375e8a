package graft.pipeline

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Idempotent FILE-ADDITIVE append of a batch into a live multi-table
  * dataset tree — the commit protocol under the O(batch) index appends
  * (MinHash signatures/bands, IVF cells). Where [[SafeSwap]] replaces a
  * whole tree (O(dataset) I/O per commit — fine for rebuilds, ruinous
  * for a daily batch against a 100 TB index), this moves only the
  * batch's OWN files into place:
  *
  *   1. the batch's tables are staged under a hidden per-batch staging
  *      dir, itself written behind [[SafeSwap]] so a crashed staging
  *      write heals on retry;
  *   2. every staged data file is renamed into the live tree under a
  *      name TAGGED with the batch id — after first deleting any
  *      same-tag files a crashed earlier attempt left behind, so the
  *      move can never double-place a batch;
  *   3. the batch id (plus an optional payload, e.g. the batch's
  *      additive fingerprint) is recorded as one tiny file in
  *      `_applied/` — created LAST, so an id in the ledger means the
  *      batch's files are fully placed.
  *
  * Re-running an applied batch is a cheap no-op (one ledger probe). A
  * crash at ANY point leaves a state the retry converges from: before
  * the moves — staging is rebuilt; mid-move — same-tag leftovers are
  * cleared and re-placed; after the moves but before the ledger write —
  * the re-place is content-equivalent (the stage recomputes the same
  * batch). This is the record-grained analog of the reference fetcher's
  * exists-guard (`fetch-canvas-data-file.py:25-31`): at-least-once
  * delivery, effectively-once state.
  *
  * SINGLE maintenance writer required (same contract as [[Rollup]]):
  * concurrent appends of different batches interleave safely at the
  * file level, but a compaction/rebuild running between a crashed
  * attempt and its retry invalidates the tag-delete step (the ledger
  * still short-circuits the fully-applied case). The `_applied/` ledger
  * is one tiny file per batch — compact it when a rebuild resets the
  * tree (a rebuild under SafeSwap drops the ledger with the old tree,
  * which is correct: the new tree's content already includes every
  * applied batch).
  */
object AppendCommit {

  private def ledgerPath(root: String, batchId: String): Path =
    new Path(root, s"_applied/$batchId")

  private def stagingPath(root: String, batchId: String): String =
    s"$root/.append_$batchId"

  private def tagOf(batchId: String): String = s"a_${batchId}_"

  // --- ledger compaction -------------------------------------------------
  // One tiny file per applied batch is O(1) to write but O(batches) to
  // list; a store that lives for years of daily (or streaming) batches
  // accumulates an unbounded ledger directory. Compaction rolls every
  // per-batch entry into ONE generation-numbered file
  // (`_applied/_compacted_<g>`), crash-safe at every step: the new
  // generation is written hidden and renamed in BEFORE old generations
  // and per-batch files are deleted, readers always take the MAX
  // generation plus any remaining per-batch files (duplicates are
  // id-identical, so the union is exact), and a crashed compaction
  // retries by writing generation g+1 from whatever survives. Batch ids
  // may not start with '_' ([[appendBatch]] requires path-safe ids and
  // [[markApplied]] callers use hex/stream ids), so compacted files can
  // never collide with an entry.

  private val CompactedPrefix = "_compacted_"

  /** Auto-compaction threshold: once a ledger holds this many per-batch
    * files, the next append folds them into the compacted generation.
    * Amortized O(1) files per append, worst-case ledger listing bounded
    * by this constant. */
  val AutoCompactAt: Int = 256

  private def compactedGens(fs: FileSystem, dir: Path): Seq[(Long, Path)] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith(CompactedPrefix))
        scala.util.Try(n.stripPrefix(CompactedPrefix).toLong).toOption
          .map(_ -> st.getPath)
      else None
    }

  /** (max generation, its id → payload map). Generation 0 = none yet. */
  private def readCompacted(fs: FileSystem,
      dir: Path): (Long, Map[String, String]) = {
    val gens = compactedGens(fs, dir)
    if (gens.isEmpty) (0L, Map.empty)
    else {
      val (g, p) = gens.maxBy(_._1)
      val in = fs.open(p)
      val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      (g, txt.split("\n").iterator.filter(_.nonEmpty).map { line =>
        val i = line.indexOf('\t')
        line.substring(0, i) -> new String(
          java.util.Base64.getDecoder.decode(line.substring(i + 1)), "UTF-8")
      }.toMap)
    }
  }

  private def plainEntryFiles(fs: FileSystem, dir: Path) =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.filter { st =>
      val n = st.getPath.getName
      !st.isDirectory && !n.startsWith("_") && !n.startsWith(".")
    }

  /** Remove a crashed attempt's partially-moved files for `batchId`
    * from the live tree. [[appendBatch]] does this itself before it
    * evaluates its stage, but a caller that READS a live table the batch
    * also writes before calling it must invoke this first — or the
    * captured file listing references deleted files. */
  def clearCrashedAttempt(root: String, batchId: String): Unit =
    deleteTagged(Fs.of(root), new Path(root), batchId)

  /** Content-derived batch id — the replay-suppression key every index
    * append/bootstrap shares. ONE definition on purpose: these ids are
    * compared across build, append, and streaming-sink paths, so a
    * divergent local copy would silently break replay suppression. */
  def contentId(fingerprint: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(fingerprint.getBytes("UTF-8")).map("%02x".format(_))
      .mkString.take(16)

  /** The ledger id of a purge (or rollup retraction) of `keys` —
    * order-insensitive, so a replayed request under any key order maps to
    * the same entry. Ledgers on disk hold these ids: the form is fixed. */
  def purgeId(keys: Seq[Any]): String =
    "purge-" + contentId(keys.map(String.valueOf).sorted.mkString("\n"))

  /** Percent-codec for USER-CONTROLLED strings riding newline-delimited
    * control files (ledger payloads, intents, journals, listings).
    * Raw filenames come from upstream manifests and forget keys from
    * RTBF callers — both may legally contain the payload's own
    * delimiters (tab, newline; POSIX allows them in names). Written
    * raw, one exotic string splits into several entries: a retired
    * file named "evil\nold.tsv" would suppress an innocent live
    * "old.tsv" from every future sync, a forget key "a\nb" would
    * replay as forgets of the innocent keys "a" AND "b" (data loss),
    * and a covered-set fragment would mark a never-folded file as
    * folded (silent missing data). ONE codec everywhere on purpose —
    * a write site encoding with a divergent local copy would corrupt
    * the shared read path. Identity on ordinary strings, so existing
    * raw-format files keep decoding unchanged. Decode '%25' LAST. */
  def encLine(s: String): String =
    s.replace("%", "%25").replace("\t", "%09")
      .replace("\n", "%0A").replace("\r", "%0D")

  def decLine(s: String): String =
    s.replace("%0D", "\r").replace("%0A", "\n")
      .replace("%09", "\t").replace("%25", "%")

  /** [[decLine]] as a Spark column (for ledgers consumed distributed —
    * the suppression-file text frames): same order, '%25' last. */
  def decLineCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, replace}
    replace(replace(replace(replace(c,
      lit("%0D"), lit("\r")), lit("%0A"), lit("\n")),
      lit("%09"), lit("\t")), lit("%25"), lit("%"))
  }

  /** [[encLine]] as a Spark column ('%25' FIRST — the write order):
    * for re-encoding a legacy raw suppression generation into encoded
    * space during a distributed compaction merge. */
  def encLineCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, replace}
    replace(replace(replace(replace(c,
      lit("%"), lit("%25")), lit("\t"), lit("%09")),
      lit("\n"), lit("%0A")), lit("\r"), lit("%0D"))
  }

  /** Version header marking a newline-joined payload/file as
    * encLine-ENCODED. Decoding must be opt-in per artifact: a LEGACY
    * payload written raw may legally contain literal codec triplets
    * ('%0A' in a key from URL-encoded upstream data) — decoded
    * unconditionally it would silently become a different string, and
    * in the forget path that deletes rows the caller never named.
    * Writers emit the header; readers decode ONLY behind it and
    * return legacy payloads verbatim. */
  val EncHeader = "#e1"

  /** The one write shape for user-string lists riding newline-joined
    * payloads/files: header + encLine'd entries. Pair with
    * [[decPayload]] — a site using one without the other is the bug
    * class this codec exists to kill. */
  def encPayload(xs: Seq[String]): String =
    (EncHeader +: xs.map(encLine)).mkString("\n")

  /** Inverse of [[encPayload]]; legacy (headerless) payloads return
    * their lines verbatim. */
  def decPayload(s: String): Seq[String] = {
    val lines = s.split("\n").toSeq
    if (lines.headOption.contains(EncHeader))
      lines.tail.filter(_.nonEmpty).map(decLine)
    else lines.filter(_.nonEmpty)
  }

  /** Cumulative content fingerprint of a build-once/append-additively
    * store: the immutable build-time `_corpus_fingerprint` marker's
    * `count|hashsum|params...` base plus the sum of every applied
    * batch's `n|h` ledger payload. None when no marker exists. The
    * marker never rewrites after build — the fingerprint advances by
    * the atomic creation of each ledger entry, so data files and
    * fingerprint cannot disagree after a crash-and-retry. */
  def cumulativeFingerprint(root: String): Option[String] = {
    val fs = Fs.of(root)
    val marker = new Path(root, "_corpus_fingerprint")
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      val base = try new String(in.readAllBytes(), "UTF-8").trim
        finally in.close()
      val Array(n0, h0, rest @ _*) = base.split('|')
      var n = n0.toLong
      var h = BigInt(h0)
      // The ledger is heterogeneous: content appends carry additive
      // `n|h` fingerprints, while maintenance covered-markers carry
      // file lists. Discriminate by LEDGER-ID NAMESPACE, not payload
      // shape: every covered-marker id lives in a known prefix
      // namespace (FreshFold batches, legacy per-file markers,
      // Skipping's file batches, streaming replay markers), and every
      // OTHER entry in a fingerprinted store is corpus content whose
      // payload MUST parse — a malformed fingerprint fails loudly here
      // instead of silently skipping into a wrong cumulative count
      // (and a future marker type whose payload happens to look like
      // `n|h` can no longer be summed by accident: new marker
      // namespaces must be registered below).
      val markerPrefixes =
        Seq(FreshFold.Tag, "rawfile-", "files-", "stream-")
      appliedEntries(root).foreach { case (id, payload) =>
        if (!markerPrefixes.exists(id.startsWith)) {
          val parts = payload.trim.split('|')
          require(parts.length == 2,
            s"ledger entry '$id' in fingerprinted store $root has a " +
              s"non-fingerprint payload '${payload.trim.take(80)}' — " +
              "covered markers must use a registered id namespace")
          n += parts(0).toLong
          h += BigInt(parts(1))
        }
      }
      Some((Seq(n.toString, h.toString) ++ rest).mkString("|"))
    }
  }

  /** Copy `src`'s ledger directory into `dst` (a store rewrite staged
    * under SafeSwap) so replay suppression SURVIVES a compaction/rewrite
    * of the data tree: the rewritten content includes every applied
    * batch, but a batch redelivered afterwards (at-least-once streaming)
    * must still read as applied. No-op when `src` has no ledger. */
  def copyLedger(src: String, dst: String): Unit = {
    val fs = Fs.of(src)
    val from = new Path(src, "_applied")
    if (!fs.exists(from)) return
    val to = new Path(dst, "_applied")
    fs.mkdirs(to)
    fs.listStatus(from).foreach { st =>
      if (!st.isDirectory)
        org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
          new Path(to, st.getPath.getName), false, fs.getConf)
    }
  }

  /** Roll all per-batch ledger files (plus any previous compacted
    * generation) into one `_compacted_<g+1>` file. Idempotent, safe to
    * re-run after a crash at any point; single maintenance writer (the
    * object-level contract). Returns the number of entries the ledger
    * now records. */
  def compactLedger(root: String): Int = {
    val fs = Fs.of(root)
    val dir = new Path(root, "_applied")
    if (!fs.exists(dir)) return 0
    val (gen, compacted) = readCompacted(fs, dir)
    val plain = plainEntryFiles(fs, dir)
    if (plain.isEmpty && compactedGens(fs, dir).size <= 1)
      return compacted.size
    val plainEntries = plain.map { st =>
      val in = fs.open(st.getPath)
      val payload = try new String(in.readAllBytes(), "UTF-8")
      finally in.close()
      st.getPath.getName -> payload
    }
    val all = compacted ++ plainEntries
    val next = new Path(dir, s"$CompactedPrefix${gen + 1}")
    val tmp = new Path(dir, s".$CompactedPrefix${gen + 1}.tmp")
    val os = fs.create(tmp, true)
    try os.write(all.toSeq.sortBy(_._1).map { case (id, payload) =>
      id + "\t" + java.util.Base64.getEncoder
        .encodeToString(payload.getBytes("UTF-8"))
    }.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally os.close()
    fs.delete(next, false) // leftover of a crashed identical attempt
    if (!fs.rename(tmp, next))
      throw new java.io.IOException(s"ledger compaction: cannot place $next")
    // the new generation now holds every entry — dropping the sources
    // can only remove duplicates, whatever prefix of these deletes runs
    compactedGens(fs, dir).filter(_._1 <= gen).foreach(g =>
      fs.delete(g._2, false))
    plain.foreach(st => fs.delete(st.getPath, false))
    all.size
  }

  def isApplied(root: String, batchId: String): Boolean = {
    val fs = Fs.of(root)
    fs.exists(ledgerPath(root, batchId)) ||
      readCompacted(fs, new Path(root, "_applied"))._2.contains(batchId)
  }

  /** All (batchId, payload) ledger entries — e.g. summed by
    * fingerprint-tracking consumers ([[graft.operators.Similarity]]'s
    * IVF `ensure`). Unordered (appends are content-commutative). */
  def appliedEntries(root: String): Seq[(String, String)] = {
    val fs = Fs.of(root)
    val dir = new Path(root, "_applied")
    val (_, compacted) = readCompacted(fs, dir)
    val plain = plainEntryFiles(fs, dir).map { st =>
      val in = fs.open(st.getPath)
      val payload =
        try new String(in.readAllBytes(), "UTF-8")
        finally in.close()
      (st.getPath.getName, payload)
    }
    // a crashed compaction can leave an entry both compacted and plain —
    // id-identical by construction, keep one
    (compacted ++ plain).toSeq
  }

  /** Compute-once ledger payload staging for maintenance ops whose
    * payload must reflect PRE-op state — a purge's negative
    * fingerprint, computed from rows the op is about to destroy. The
    * naive orders both lose a crash: payload-after-work recomputes
    * over already-purged rows (zeros — the store's cumulative count
    * silently overcounts forever), payload-before-work with an eager
    * ledger mark makes the retry skip the unfinished work. Protocol:
    *
    *   1. the payload is computed ONCE and staged as a hidden INTENT
    *      file (`_applied/.intent_<id>`, temp+rename) — a retry that
    *      finds the intent reuses its payload instead of recomputing
    *      over mutated state;
    *   2. `work(payload)` runs (it must itself be idempotent/convergent
    *      — the deleteByKey/AppendCommit ops here are);
    *   3. the intent RENAMES to the ledger entry — one atomic promotion
    *      marks "applied" with the pre-op payload.
    *
    * Returns false (no-op) when `id` is already applied. */
  def runWithIntent(root: String, id: String)(compute: => String)(
      work: String => Unit): Boolean = {
    if (isApplied(root, id)) return false
    val fs = Fs.of(root)
    val lp = ledgerPath(root, id)
    fs.mkdirs(lp.getParent)
    val intent = new Path(lp.getParent, s".intent_$id")
    val payload =
      if (fs.exists(intent)) {
        val in = fs.open(intent)
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      } else {
        val p = compute
        val tmp = new Path(lp.getParent, s"..intent_$id.tmp")
        val os = fs.create(tmp, true)
        try os.write(p.getBytes("UTF-8")) finally os.close()
        if (!fs.rename(tmp, intent))
          throw new java.io.IOException(s"cannot stage intent for $id")
        p
      }
    work(payload)
    if (!fs.rename(intent, lp))
      throw new java.io.IOException(s"cannot promote intent for $id")
    true
  }

  /** Record `batchId` as applied WITHOUT the staging/move machinery —
    * for maintenance ops whose data path is already idempotent under
    * re-run (e.g. the component-store label merge, whose min-label
    * fixpoint is reached from any partially-applied state) and that
    * only need the replay short-circuit. Callers order this AFTER the
    * data commit, so a crash before it leaves a retryable state. */
  def markApplied(root: String, batchId: String,
      payload: String = ""): Unit = {
    require(batchId.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
      s"batch id must be path-safe and not hidden, got: $batchId")
    val fs = Fs.of(root)
    val lp = ledgerPath(root, batchId)
    fs.mkdirs(lp.getParent)
    val os = fs.create(lp, true)
    try os.write(payload.getBytes("UTF-8")) finally os.close()
    // amortized ledger maintenance: fold per-batch files into the
    // compacted generation once enough accumulate
    if (plainEntryFiles(fs, lp.getParent).size >= AutoCompactAt)
      compactLedger(root)
  }

  /** The data files a batch placed in the live tree (tag-named by
    * [[appendBatch]]) — lets a replayed consumer read back EXACTLY the
    * batch it committed earlier instead of recomputing it against state
    * that has since moved (the streaming admission pipeline's pin). */
  def filesOfBatch(root: String, batchId: String): Seq[String] =
    taggedFiles(Fs.of(root), new Path(root), batchId)
      .map(_.getPath.toUri.toString)

  /** Remove data files tagged with `batchId` under `root` — leftovers
    * of a crashed earlier attempt at the same batch. */
  private def deleteTagged(fs: FileSystem, root: Path,
      batchId: String): Unit =
    taggedFiles(fs, root, batchId).foreach(st => fs.delete(st.getPath, false))

  /** The files tagged with `batchId` under `root`, at every depth
    * [[moveTagged]] places them (the root, a table dir, one level per
    * `partitionBy` column): each visible directory is listed once, level
    * by level, and only tag-prefixed names are kept. Hidden dirs
    * (staging, swap siblings) and the `_applied` ledger hold no placed
    * data. */
  private def taggedFiles(fs: FileSystem, root: Path,
      batchId: String): Seq[FileStatus] = {
    val tag = tagOf(batchId)
    @scala.annotation.tailrec
    def level(dirs: Seq[Path], found: Seq[FileStatus]): Seq[FileStatus] =
      if (dirs.isEmpty) found
      else {
        val (sub, files) = dirs.flatMap(fs.listStatus(_).toSeq)
          .partition(_.isDirectory)
        level(sub.map(_.getPath).filterNot { p =>
            p.getName.startsWith(".") || p.getName == "_applied" },
          found ++ files.filter(_.getPath.getName.startsWith(tag)))
      }
    if (fs.exists(root)) level(Seq(root), Nil) else Nil
  }

  /** Rename staged data files into the live tree, preserving relative
    * directories (so `partitionBy` layouts land in their partition
    * dirs), tagging each file name with the batch id. Metadata files
    * (`_SUCCESS`, checksums) are not moved. */
  private def moveTagged(fs: FileSystem, staging: Path, root: Path,
      batchId: String): Unit = {
    val tag = tagOf(batchId)
    var i = 0
    def walk(p: Path, rel: String): Unit = fs.listStatus(p).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory)
        walk(st.getPath, if (rel.isEmpty) n else s"$rel/$n")
      else if (!n.startsWith("_") && !n.startsWith(".")) {
        val destDir = if (rel.isEmpty) root else new Path(root, rel)
        fs.mkdirs(destDir)
        val dest = new Path(destDir, s"$tag${i}_$n")
        i += 1
        if (!fs.rename(st.getPath, dest))
          throw new java.io.IOException(
            s"append: cannot move ${st.getPath} to $dest")
      }
    }
    walk(staging, "")
  }

  /** Stage-then-move `batchId`'s files into the live tree at `root`.
    * Returns false (and runs nothing) if the batch is already applied.
    * `stage` writes the batch's tables under the passed temp root using
    * the same relative layout as the live tree (`tmp/signatures`,
    * `tmp/cells`, ...). */
  def appendBatch(spark: org.apache.spark.sql.SparkSession, root: String,
      batchId: String, payload: String = "")
      (stage: => String => Unit): Boolean = {
    require(batchId.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
      s"batch id must be path-safe and not hidden, got: $batchId")
    // per-BATCH lock: appends of DIFFERENT batches interleave safely at
    // the file level (the documented contract), but two concurrent
    // attempts at the SAME batch id would race tag-delete against the
    // other's in-flight moves — the loser now fails loudly instead
    MaintenanceLock.withLock(root, tag = s"_$batchId") {
    val fs = Fs.of(root)
    val staging = new Path(stagingPath(root, batchId))
    if (isApplied(root, batchId)) {
      // a crash between the ledger write and the staging cleanup leaves
      // an orphan staging dir — reap it here
      fs.delete(staging, true)
      return false
    }
    // clear a crashed attempt's partially-moved same-tag files BEFORE
    // staging runs: stage callbacks lazily read the LIVE tree (bucket
    // sizes, stored labels, codebooks), and a leftover partial placement
    // of this very batch would be double-counted into that read (e.g.
    // the MinHash cap deciding on base + its own half-placed deltas).
    // `stage` is by-name and evaluated only after this delete, so reads
    // of the live tree planned in the argument expression never list
    // the deleted files (spark.read captures the listing eagerly —
    // FILE_NOT_EXIST). A caller that plans such a read BEFORE calling
    // must call [[clearCrashedAttempt]] first.
    deleteTagged(fs, new Path(root), batchId)
    SafeSwap.replace(stagingPath(root, batchId))(stage)
    moveTagged(fs, staging, new Path(root), batchId)
    fs.delete(staging, true)
    markApplied(root, batchId, payload)
    true
    }
  }
}
