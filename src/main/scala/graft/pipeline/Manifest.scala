package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Reader-visible SNAPSHOT ISOLATION for plain parquet table dirs — the
  * one-file step toward an Iceberg/Delta-style manifest pointer
  * (Armbrust et al., VLDB 2020 §3.1) that this warehouse's maintenance
  * ops were previously missing: [[SafeSwap]], [[Maintain.deleteByKey]]'s
  * aside/rename protocol, and compaction are all crash-safe for the
  * WRITER, but a concurrent listing-based reader could catch the
  * rename-wide gap and see neither the old file nor its replacement.
  *
  * The fix: a per-table generation-numbered manifest (`_manifest_g<N>`)
  * naming the table's current data files (paths relative to the table
  * root). Each generation appears ATOMICALLY (written to a hidden temp,
  * renamed to its final — new — name, so no reader can observe a partial
  * manifest), and maintenance ops order their work around it:
  *
  *   1. new content lands under NEW names (replacements are complete and
  *      visible before anything is removed);
  *   2. the manifest swaps — ONE atomic rename, the commit point;
  *   3. replaced originals are deleted.
  *
  * A reader that resolves its file list through [[readSnapshot]]
  * therefore sees the complete OLD state before the swap and the
  * complete NEW state after it — never a half state. Two generations
  * are retained so recovery and readers can distinguish three kinds of
  * not-in-current-manifest files:
  *
  *   - in the PREVIOUS generation → a replaced/dropped original whose
  *     post-commit deletion crashed: invisible to snapshot readers,
  *     deleted by [[recover]];
  *   - carries a maintenance-output prefix (`del_`/`cmp_`) but is in no
  *     generation → an UNCOMMITTED replacement from a crashed run:
  *     invisible, deleted by [[recover]] (the rerun redoes the work);
  *   - anything else → a fresh APPEND the manifest hasn't caught up
  *     with: always read (staleness degrades to "appends visible
  *     immediately", never to missing or duplicated rows — the same
  *     stale-safety contract as [[Skipping]]).
  *
  * Opt-in per table ([[enable]]); tables without a manifest keep the
  * existing listing semantics and code paths untouched. Single
  * maintenance writer, like every protocol in this package; readers are
  * unlimited and lock-free.
  *
  * CONTRACT for whole-dir rewriters: an op that intentionally REBUILDS
  * a table wholesale through [[SafeSwap]] (a batch canonical rewrite,
  * an SCD2 history fold) replaces the directory — manifest included —
  * and must re-commit afterwards ([[refresh]]; the Warehouse does this
  * per sync for its `manifestTables`). The manifest-aware ops here
  * (deleteByKey, compactPartitions, mergeInto, mergeIntoPartitioned)
  * never whole-dir swap a managed table.
  */
object Manifest {

  private val GenPrefix = "_manifest_g"

  /** Fixed-name existence marker, (re)written by every [[commit]].
    * [[exists]] probes THIS file — one `fs.exists` call, never a root
    * listing — because the existence probe runs on EVERY scanned
    * relation of every optimizer pass ([[graft.plans.ManifestResolve]]),
    * managed or not, and a root `listStatus` per probe is measurable
    * planning latency on object storage. Readers use only the marker's
    * EXISTENCE (its generation-number content is debugging aid): the
    * authoritative state stays in the atomic `_manifest_g<N>` files. */
  private[pipeline] val MarkerName = "_manifest_CURRENT"

  /** Deferred-delete ("tombstone") list: `_tomb_g<N>` names the
    * relative files generation N's commit REPLACED. The files stay ON
    * DISK at their original paths for the same two-generation window
    * the manifests themselves keep (list N purges when generation N−1
    * would — at commit N+2, or the [[recover]] any maintenance entry
    * runs), so a reader that resolved before the commit can still open
    * every file it planned for at least one full maintenance cycle —
    * the table-format retention property. This is also what makes
    * [[resolveAt]] time travel to the previous generation free: its
    * replaced files ARE the retention window's contents. */
  private val TombPrefix = "_tomb_g"

  /** Test instrumentation: root-directory listings performed by
    * manifest machinery (the expensive probe class the fixed marker
    * exists to avoid on unmanaged tables). */
  private[graft] val rootListings =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Name prefixes that mark MAINTENANCE OUTPUT files (delete rewrites,
    * compaction outputs, partition merges). An uncommitted file with
    * one of these prefixes is a crashed run's leftover; anything else
    * unknown to the manifest is treated as a fresh append. */
  private[pipeline] val MaintPrefixes = Seq("del_", "cmp_", "ups_")

  private def genOf(name: String): Option[Long] =
    if (!name.startsWith(GenPrefix)) None
    else name.stripPrefix(GenPrefix).toLongOption

  private def genFiles(fs: FileSystem, dir: Path): Seq[(Long, Path)] = {
    rootListings.incrementAndGet()
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap { st =>
      genOf(st.getPath.getName).map(g => (g, st.getPath))
    }.sortBy(_._1)
  }

  /** One `exists()` on the fixed marker — the only manifest call cheap
    * enough for the per-relation optimizer probe. A crash between a
    * FIRST commit's generation write and its marker write leaves
    * exists()=false with a generation present; [[refresh]] heals it
    * (re-commit writes the marker), and the explicit snapshot APIs
    * ([[resolve]]/[[readSnapshot]]) never consult the marker. */
  def exists(tableDir: String): Boolean =
    Fs.of(tableDir).exists(new Path(tableDir, MarkerName))

  private def readGen(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    txt.split("\n").toSeq.filter(_.nonEmpty)
  }

  /** Lock-free readers race the writer's generation prune: between a
    * reader's gen LISTING and its OPEN, a commit can delete the older
    * generation file — re-list and retry (bounded; each retry observes
    * a strictly newer, complete state, so two suffice in practice). */
  private def retryingGenRead[T](body: => Option[T]): Option[T] = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case _: java.io.FileNotFoundException if attempt < 3 =>
          attempt += 1
      }
    }
    None // unreachable
  }

  /** The current generation's relative file list, if a manifest exists. */
  def current(tableDir: String): Option[Seq[String]] =
    retryingGenRead {
      val fs = Fs.of(tableDir)
      genFiles(fs, new Path(tableDir)).lastOption
        .map { case (_, p) => readGen(fs, p) }
    }

  /** Current generation number plus current and previous generations'
    * names (previous empty when only one generation exists). */
  private def lastTwo(tableDir: String)
      : Option[(Long, Seq[String], Seq[String])] =
    retryingGenRead {
      val fs = Fs.of(tableDir)
      val gens = genFiles(fs, new Path(tableDir))
      gens.lastOption.map { case (g, cur) =>
        (g, readGen(fs, cur),
          if (gens.size >= 2) readGen(fs, gens(gens.size - 2)._2)
          else Seq.empty)
      }
    }

  // --- deferred deletion (tombstone lists) -------------------------------

  private def tombLists(fs: FileSystem, root: Path): Seq[(Long, Path)] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith(TombPrefix))
        n.stripPrefix(TombPrefix).toLongOption.map(_ -> st.getPath)
      else None
    }.sortBy(_._1)

  /** Relative files named by every RETAINED tomb list: replaced
    * originals still on disk for the retention window. [[resolve]] and
    * [[refresh]] must treat these as KNOWN (not fresh appends) even
    * when the generation that listed them has been pruned — a replaced
    * APPEND, in particular, is in no generation at all. */
  private def tombedRels(fs: FileSystem, root: Path): Set[String] =
    tombLists(fs, root).flatMap { case (_, p) => readGen(fs, p) }.toSet

  /** Execute one tomb list's deferred deletes (missing files are fine —
    * a crashed earlier purge, or an RTBF delete that outran
    * retention), then drop the list itself. */
  private def purgeTomb(fs: FileSystem, root: Path, list: Path): Unit = {
    readGen(fs, list).foreach(rel => fs.delete(new Path(root, rel), false))
    fs.delete(list, false)
  }

  /** Collapse the retention window NOW: every tomb-listed file's bytes
    * are deleted, current generation's list included. The
    * right-to-be-forgotten entry point — [[graft.pipeline.Maintain]]'s
    * key deletes call this first, because a purge that rewrites only
    * current-manifest copies while replaced originals sit in the tomb
    * window would leave the forgotten rows' bytes on disk (and a raw
    * candidate listing could resurrect them into a rewrite). */
  def purgeAllTombs(tableDir: String): Unit = {
    val fs = Fs.of(tableDir)
    val root = new Path(tableDir)
    tombLists(fs, root).foreach { case (_, p) => purgeTomb(fs, root, p) }
  }

  private def listDataFiles(fs: FileSystem, root: Path): Seq[String] = {
    def walk(p: Path, rel: String): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith(".") || n.startsWith("_")) Seq.empty
        else if (st.isDirectory)
          walk(st.getPath, if (rel.isEmpty) n else s"$rel/$n")
        else Seq(if (rel.isEmpty) n else s"$rel/$n")
      }
    if (fs.exists(root)) walk(root, "") else Seq.empty
  }

  /** Swap in a new generation naming exactly `relFiles`. The write is
    * hidden-temp + rename-to-a-NEW-name, so the generation appears
    * atomically; generations older than the previous one are pruned
    * (readers hold at most one resolve's worth of staleness).
    *
    * `tombRels` defers deletion of the files this commit REPLACED: they
    * are written to `_tomb_g<next>` (before the generation swap — a
    * crash in between leaves an orphan future list [[recover]] drops)
    * and stay on disk until the NEXT maintenance cycle, closing the
    * resolve-then-open race for any query shorter than that interval.
    * Each commit first executes every OLDER generation's deferred
    * deletes — their files are about to leave the retained-generation
    * window, after which [[resolve]] would misread them as appends. */
  def commit(tableDir: String, relFiles: Seq[String],
      tombRels: Seq[String] = Nil): Unit = {
    val fs = Fs.of(tableDir)
    val root = new Path(tableDir)
    fs.mkdirs(root)
    val gens = genFiles(fs, root)
    val next = gens.lastOption.map(_._1 + 1).getOrElse(1L)
    // tomb retention mirrors generation retention (current + previous):
    // a reader holds at most one resolve's worth of staleness, and the
    // previous generation's replaced originals must outlive THIS commit
    // for it — purge only lists falling out of that two-wide window
    tombLists(fs, root).foreach { case (g, p) =>
      if (g < next - 1) purgeTomb(fs, root, p)
      else if (g >= next) fs.delete(p, false) // orphan from a crashed commit
    }
    if (tombRels.nonEmpty) {
      val ttmp = new Path(root, s".$TombPrefix$next.tmp")
      val tos = fs.create(ttmp, true)
      try tos.write(tombRels.sorted.mkString("\n").getBytes("UTF-8"))
      finally tos.close()
      if (!fs.rename(ttmp, new Path(root, s"$TombPrefix$next")))
        throw new java.io.IOException(
          s"cannot write tomb list $next for $tableDir")
    }
    val tmp = new Path(root, s".$GenPrefix$next.tmp")
    val os = fs.create(tmp, true)
    try os.write(relFiles.sorted.mkString("\n").getBytes("UTF-8"))
    finally os.close()
    if (!fs.rename(tmp, new Path(root, s"$GenPrefix$next")))
      throw new java.io.IOException(
        s"cannot commit manifest generation $next for $tableDir")
    // prune: keep current + previous (recovery and stale readers need
    // exactly one generation of history)
    gens.dropRight(1).foreach { case (_, p) => fs.delete(p, false) }
    // (re)write the fixed existence marker LAST — content is the
    // generation number, for humans; only its existence is load-bearing
    val mos = fs.create(new Path(root, MarkerName), true)
    try mos.write(next.toString.getBytes("UTF-8")) finally mos.close()
  }

  /** Make `tableDir` manifest-managed: commit generation 1 from the
    * current listing. */
  def enable(spark: SparkSession, tableDir: String): Unit = {
    val fs = Fs.of(tableDir)
    val tombed = tombedRels(fs, new Path(tableDir))
    commit(tableDir,
      listDataFiles(fs, new Path(tableDir)).filterNot(tombed))
  }

  /** Converge the manifest with the live listing: heal crashed
    * maintenance ([[recover]]), execute the retention window's deferred
    * deletes (this IS the "next maintenance cycle" the tomb lists wait
    * for), then commit a new generation ONLY if the listing moved
    * (appends since the last commit, or a wholesale canonical rewrite
    * that replaced the dir — and with it any previous manifest). An
    * unchanged table costs one listing + one manifest read. The
    * maintenance-cadence entry point ([[graft.Warehouse]] wires it per
    * sync). Returns whether a generation was committed. */
  def refresh(spark: SparkSession, tableDir: String): Boolean = {
    val fs = Fs.of(tableDir)
    val root = new Path(tableDir)
    // recover() also ages out deferred-delete tombs that fell behind
    // the two-generation retention window — refresh is the per-sync
    // cycle boundary where that purge is guaranteed to run
    if (genFiles(fs, root).nonEmpty) recover(tableDir)
    // tomb-listed files are ON DISK but replaced — folding them into
    // the new generation would resurrect replaced rows (and leave the
    // manifest naming files the next tomb purge deletes)
    val tombed = tombedRels(fs, root)
    val listing = listDataFiles(fs, root).filterNot(tombed).sorted
    if (current(tableDir).map(_.sorted).contains(listing)) false
    else { commit(tableDir, listing); true }
  }

  /** Entry healing for maintenance ops (single writer): drop orphan
    * FUTURE tomb lists (a commit that crashed after writing its list
    * but before its generation swap — the files are still current, only
    * the list is stale), finish crashed purges of PAST tomb lists,
    * delete uncommitted maintenance-output files, and delete
    * previous-generation-only files NOT under deferred retention (a
    * key-delete's immediate removal that crashed mid-loop). Fresh
    * appends (unknown, unprefixed) are untouched. No-op without a
    * manifest. */
  def recover(tableDir: String): Unit = {
    val fs = Fs.of(tableDir)
    val root = new Path(tableDir)
    lastTwo(tableDir).foreach { case (curGen, cur, prev) =>
      // Heal a crash between a commit's generation write and its marker
      // write: a generation exists but exists()=false, so the optimizer
      // and maintenance route this table down unmanaged paths while
      // resolve()/readSnapshot still honor the generation — a permanent
      // split brain, because refresh()'s unchanged-listing path commits
      // nothing (and so never rewrites the marker). Every recovery entry
      // converges it.
      val marker = new Path(root, MarkerName)
      if (!fs.exists(marker)) {
        val mos = fs.create(marker, true)
        try mos.write(curGen.toString.getBytes("UTF-8"))
        finally mos.close()
      }
      tombLists(fs, root).foreach { case (g, p) =>
        if (g > curGen) fs.delete(p, false) // orphan future list
        else if (g < curGen - 1) purgeTomb(fs, root, p) // crashed purge
      }
      val curSet = cur.toSet
      val prevSet = prev.toSet
      val tombed = tombedRels(fs, root)
      listDataFiles(fs, root).foreach { f =>
        val base = f.split('/').last
        if (!curSet(f) && !tombed(f)) {
          if (prevSet(f) || MaintPrefixes.exists(base.startsWith))
            fs.delete(new Path(tableDir, f), false)
        }
      }
    }
  }

  /** Snapshot-resolved file list: the current generation's files plus
    * fresh appends (files in the listing unknown to both retained
    * generations AND to the retention window's tomb lists — a replaced
    * append is in no generation at all — and not
    * maintenance-prefixed). Returned as absolute child paths of
    * `tableDir`. */
  def resolve(tableDir: String): Option[Seq[String]] =
    lastTwo(tableDir).map { case (_, cur, prev) =>
      val fs = Fs.of(tableDir)
      val known = cur.toSet ++ prev.toSet ++
        tombedRels(fs, new Path(tableDir))
      val appends = listDataFiles(fs, new Path(tableDir)).filter { f =>
        val base = f.split('/').last
        !known(f) && !MaintPrefixes.exists(base.startsWith)
      }
      (cur ++ appends).map(f => new Path(tableDir, f).toString)
    }

  /** Retained generation numbers, oldest first (at most two — current
    * and previous; the time-travel window). */
  def generations(tableDir: String): Seq[Long] =
    genFiles(Fs.of(tableDir), new Path(tableDir)).map(_._1)

  /** File list of a RETAINED generation, at the files' original paths.
    * Files a later commit replaced are still on disk (deferred
    * deletion); files an RTBF key-delete removed are verified and
    * reported loudly — time travel must not silently resurrect a
    * partial generation, and it can never resurrect forgotten rows. */
  def resolveAt(tableDir: String, generation: Long): Option[Seq[String]] =
    retryingGenRead {
      val fs = Fs.of(tableDir)
      genFiles(fs, new Path(tableDir)).find(_._1 == generation)
        .map { case (_, p) =>
          val rels = readGen(fs, p)
          val missing = rels.filterNot(r =>
            fs.exists(new Path(tableDir, r)))
          require(missing.isEmpty,
            s"generation $generation of $tableDir references deleted " +
              s"file(s) [${missing.take(5).mkString(", ")}] — an RTBF " +
              "delete or expired retention; the snapshot is gone")
          rels.map(r => new Path(tableDir, r).toString)
        }
    }

  /** Reader-atomic replacement of `olds` (absolute paths under
    * `tableDir`) by `df`'s rows, materialized under `destDir` with
    * `prefix`-tagged names: write hidden → move in (complete files,
    * uncommitted — snapshot readers ignore them) → ONE manifest commit
    * (the atomicity point) → delete `olds`. The shared building block
    * of manifest-managed compaction and partition merges; a crash at
    * any step heals at the next run's [[recover]]. */
  private[pipeline] def replaceFiles(spark: SparkSession,
      tableDir: String, destDir: String, df: DataFrame, prefix: String,
      olds: Seq[String]): Unit = {
    replaceFilesBatch(spark, tableDir,
      Seq(Replacement(destDir, df, prefix, olds)))
    ()
  }

  /** One unit of [[replaceFilesBatch]] work: `df`'s rows replace the
    * `olds` files (absolute paths under the table), materialized under
    * `destDir` with `prefix`-tagged names. */
  private[pipeline] final case class Replacement(destDir: String,
      df: DataFrame, prefix: String, olds: Seq[String])

  /** Batched [[replaceFiles]]: every replacement's output lands
    * complete and uncommitted, then ONE manifest commit swaps all of
    * them — so a multi-partition maintenance op (compaction, partition
    * merge) is a single generation, a single atomicity point, and a
    * single retention window, instead of one commit per partition
    * whose later commits would age out the earlier partitions'
    * deferred-delete tombs mid-op. Returns the number of files placed
    * per replacement. */
  private[pipeline] def replaceFilesBatch(spark: SparkSession,
      tableDir: String, repls: Seq[Replacement]): Seq[Int] = {
    require(repls.forall(r => MaintPrefixes.contains(r.prefix)),
      s"unregistered maintenance prefix in ${repls.map(_.prefix).distinct}")
    val fs = Fs.of(tableDir)
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val placed: Seq[Seq[Path]] = repls.zipWithIndex.map { case (r, i) =>
      val tmpDir = new Path(r.destDir, s".${r.prefix}tmp_$i").toString
      fs.delete(new Path(tmpDir), true)
      r.df.write.mode("overwrite").parquet(tmpDir)
      val moved = fs.listStatus(new Path(tmpDir)).toSeq.map(_.getPath)
        .filter(p => !p.getName.startsWith("_") &&
          !p.getName.startsWith("."))
        .map { p =>
          val dest = new Path(r.destDir, s"${r.prefix}${runId}_${p.getName}")
          if (!fs.rename(p, dest))
            throw new java.io.IOException(s"manifest: cannot place $dest")
          dest
        }
      fs.delete(new Path(tmpDir), true)
      moved
    }
    val oldRels = repls.flatMap(_.olds)
      .map(p => relativize(tableDir, p)).toSet
    val cur = resolve(tableDir).getOrElse(Seq.empty)
      .map(p => relativize(tableDir, p))
    // the replaced originals go to the DEFERRED-delete list, not to an
    // immediate delete: a reader that resolved before this commit can
    // still open them until the next maintenance cycle (content-
    // preserving ops owe readers that window; RTBF key deletes — which
    // must destroy bytes — bypass this path and delete immediately)
    commit(tableDir, cur.filterNot(oldRels) ++
      placed.flatten.map(p => relativize(tableDir, p.toString)),
      tombRels = oldRels.toSeq)
    placed.map(_.size)
  }

  /** Table-relative form of an absolute child path (URI-scheme and
    * slash-form differences canonicalized) — the representation
    * manifest generations store. */
  private[pipeline] def relativize(tableDir: String, abs: String): String = {
    val root = new Path(tableDir).toUri.getPath.stripSuffix("/")
    val p = new Path(abs).toUri.getPath
    require(p.startsWith(root + "/"),
      s"$abs is not under table dir $tableDir")
    p.stripPrefix(root + "/")
  }

  /** Read through the manifest when one exists (snapshot isolation for
    * this resolve: maintenance commits concurrent with the read cannot
    * make files vanish mid-plan — originals outlive the commit until
    * the writer's deferred delete, and [[Maintain]]'s manifest-aware
    * protocols place replacements before removing anything). Falls back
    * to a plain directory read when the table is not manifest-managed.
    * `basePath` keeps Hive partition columns alive on leaf-file
    * reads. */
  def readSnapshot(spark: SparkSession, tableDir: String): DataFrame =
    readSnapshot(spark, tableDir, "parquet")

  /** [[readSnapshot]] for any file-based format: the manifest protocol
    * is format-agnostic (generations are file LISTS; commits are
    * renames), so ORC or JSON table dirs get the same snapshot
    * isolation. Only the maintenance REWRITE ops (deleteByKey,
    * compaction, merges) are parquet-coupled — a managed non-parquet
    * dir supports enable/refresh/resolve/time-travel and transparent
    * plain-read resolution ([[graft.plans.ManifestResolve]] rewrites
    * whatever HadoopFsRelation the scan carries), not keyed
    * rewrites. */
  def readSnapshot(spark: SparkSession, tableDir: String,
      format: String): DataFrame =
    resolve(tableDir) match {
      case None => spark.read.format(format).load(tableDir)
      case Some(files) =>
        if (files.isEmpty)
          spark.read.format(format).load(tableDir).limit(0)
        else
          spark.read.format(format).option("basePath", tableDir)
            .load(files: _*)
    }

  /** TIME TRAVEL: read a retained generation (current or previous) as
    * it was committed. Nearly free — the previous generation's replaced
    * files are exactly the deferred-delete window's contents, so no
    * extra copies are kept for this. Throws (via [[resolveAt]]) when
    * the generation is pruned or an RTBF delete destroyed its files. */
  def readSnapshot(spark: SparkSession, tableDir: String,
      generation: Long): DataFrame =
    readSnapshot(spark, tableDir, generation, "parquet")

  /** [[readSnapshot]](generation) for any file-based format. */
  def readSnapshot(spark: SparkSession, tableDir: String,
      generation: Long, format: String): DataFrame =
    resolveAt(tableDir, generation) match {
      case None => throw new IllegalArgumentException(
        s"generation $generation of $tableDir is not retained " +
          s"(retained: ${generations(tableDir).mkString(", ")})")
      case Some(files) =>
        if (files.isEmpty)
          spark.read.format(format).load(tableDir).limit(0)
        else spark.read.format(format).option("basePath", tableDir)
          .load(files: _*)
    }
}
