package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level data skipping: a persisted per-file min/max stats table and
  * a range-predicate reader that scans only the files whose range can
  * match — the Delta/Iceberg "file skipping" idea (Armbrust et al., VLDB
  * 2020 §4.2) rebuilt on plain parquet directories.
  *
  * Parquet already prunes ROW GROUPS from footers, but the scan still
  * opens every footer — at 100 TB / ~1 M files that is a million S3
  * round-trips per query before a byte of data moves. A stats table is
  * one row per file (MBs at most); planning reads THAT instead, and a
  * selective range query on sorted/clustered data (Z-ordered via
  * [[Layout.zorderWrite]], range-partitioned syncs) touches only the
  * files it must.
  *
  * MAINTENANCE is incremental: the stats dir is an [[AppendCommit]]
  * tree — each batch of newly-landed data files contributes its own
  * stats rows as new files, with a ledger entry whose payload lists the
  * data files covered. Every stat row is a pure function of ONE data
  * file, so an append costs O(batch), untouched stats files keep their
  * on-disk identity, and a replayed batch no-ops on its content id.
  * [[refreshStats]]/[[refreshBloom]] diff the live listing against the
  * ledger: fresh files append, a covered-but-deleted file (stale-delete,
  * compaction) triggers a full rebuild — per-file rows cannot subtract,
  * same premise as the rollup partials.
  *
  * Contract:
  *  - stats rows describe the files they were built from; files that
  *    appeared SINCE (incremental appends) are unknown and always
  *    scanned — staleness degrades to correct-but-less-pruned, never to
  *    wrong answers (spec'd);
  *  - stats rows for files that have DISAPPEARED are dropped at read
  *    time (matched lists intersect the live listing) — a deleted file
  *    cannot be scanned, and the next refresh rebuilds;
  *  - a file whose stats are NULL (all-null column) cannot satisfy a
  *    range predicate (SQL comparison with NULL is never true) and is
  *    skipped — correct for range reads, which is the only predicate
  *    shape this API offers (an IS NULL reader would need null counts);
  *  - the matched-file list is driver-side, like the file listing any
  *    scan already materializes — the point is it comes from one small
  *    parquet read instead of a million footer opens. Only file NAMES
  *    ever reach the driver; the bloom probe itself runs engine-side
  *    ([[graft.functions.BloomMightContainAny]]).
  */
object Skipping {

  private val StatsDir = "_skip_stats"
  private def bloomDir(c: String) = s"_skip_bloom_$c"

  /** What a refresh did: full rebuild, an O(batch) append of `appended`
    * data files' stats, or nothing (listing unchanged). */
  final case class Refresh(rebuilt: Boolean, appended: Int)

  private def canon(s: String) = new Path(s).toUri.getPath

  /** Read a stats tree through its EXPLICIT data-file list: passing the
    * `_`-prefixed dir itself works, but Spark's hidden-path filtering
    * logs a spurious "All paths were ignored" WARN per read — one per
    * planning decision adds up in the driver log. Throws the usual
    * empty-path error if no stats files exist (callers guard
    * existence). */
  private def statsDf(spark: SparkSession, statsDir: String): DataFrame = {
    val fs = Fs.of(statsDir, spark)
    val files = fs.listStatus(new Path(statsDir)).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.map(_.getPath.toUri.toString)
    spark.read.parquet(files: _*)
  }

  private def listDataFiles(spark: SparkSession, tableDir: String)
      : Seq[String] = {
    val fs = Fs.of(tableDir, spark)
    def walk(p: Path): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith(".") || n.startsWith("_")) Seq.empty
        else if (st.isDirectory) walk(st.getPath)
        else Seq(st.getPath.toUri.toString)
      }
    walk(new Path(tableDir))
  }

  // --- stats row computation ---------------------------------------------

  private def readFiles(spark: SparkSession, tableDir: String,
      files: Seq[String]): DataFrame =
    spark.read.option("basePath", tableDir).parquet(files: _*)

  /** Per-file min/max rows for exactly `files` — each row a pure
    * function of one data file (the unit of incremental maintenance). */
  private def statsRowsFor(spark: SparkSession, tableDir: String,
      cols: Seq[String], files: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) :+
      count(lit(1)).as("n_rows")
    readFiles(spark, tableDir, files)
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  private def nextPow2(n: Long): Long = {
    var c = 1024L
    while (c < n) c <<= 1
    c
  }

  /** Per-file bloom rows for exactly `files`. `fixedCap > 0` sizes every
    * sketch at that capacity; `fixedCap == 0` sizes from OBSERVED
    * per-file row counts: a first column-pruned count pass buckets files
    * by next-power-of-two row count (min 1024), then one aggregate per
    * bucket builds sketches within 2× of the optimal capacity — a
    * typical 100k-row file gets a ~128 KB sketch instead of the 1 MB a
    * fixed 1M-item default would allocate, shrinking the stats table
    * (and every planning read of it) ~10×. The count collect is one
    * (name, long) pair per file — the same driver footprint as the file
    * listing itself. */
  private def bloomRowsFor(spark: SparkSession, tableDir: String,
      c: String, files: Seq[String], fixedCap: Long): DataFrame = {
    graft.functions.Bloom.register(spark)
    def agg(fs: Seq[String], cap: Long) =
      readFiles(spark, tableDir, fs)
        .groupBy(col("_metadata.file_path").as("file"))
        .agg(expr(s"graft_bloom_agg(xxhash64($c), ${cap}L)").as("bloom"),
          count(lit(1)).as("n_rows"))
    if (fixedCap > 0) agg(files, fixedCap)
    else {
      val counts = readFiles(spark, tableDir, files)
        .groupBy(col("_metadata.file_path").as("file"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      counts.groupBy { case (_, n) => nextPow2(math.max(n, 1L)) }
        .toSeq.sortBy(_._1)
        .map { case (cap, fls) => agg(fls.map(_._1).toSeq, cap) }
        .reduce(_.unionByName(_))
    }
  }

  // --- commit machinery ---------------------------------------------------

  private def batchIdFor(files: Seq[String]): String =
    "files-" + AppendCommit.contentId(files.map(canon).sorted.mkString("\n"))

  private def payloadFor(files: Seq[String]): String =
    files.map(canon).sorted.mkString("\n")

  /** Data files covered by `statsDir`'s ledger (canonical paths). */
  private def coveredBy(spark: SparkSession, statsDir: String)
      : Set[String] =
    AppendCommit.appliedEntries(statsDir).iterator
      .flatMap(_._2.split("\n")).filter(_.nonEmpty).toSet

  /** Full rebuild: the whole stats tree (rows + ledger) is staged and
    * atomically swapped in — readers never see a missing or partial
    * stats table, and the old ledger (now describing replaced content)
    * is dropped with the old tree. */
  private def rebuildAll(spark: SparkSession, statsDir: String,
      files: Seq[String], rows: Seq[String] => DataFrame): Unit =
    SafeSwap.replace(statsDir) { tmp =>
      rows(files).coalesce(1).write.mode("overwrite").parquet(tmp)
      AppendCommit.markApplied(tmp, batchIdFor(files), payloadFor(files))
    }

  /** O(batch) append: stats rows for `newFiles` only, landed
    * file-additively under the [[AppendCommit]] protocol (staged write →
    * tagged move → ledger entry LAST). Untouched stats files keep their
    * on-disk identity; a replayed batch no-ops on its content id. */
  private def appendBatchRows(spark: SparkSession, statsDir: String,
      newFiles: Seq[String], rows: Seq[String] => DataFrame): Boolean =
    AppendCommit.appendBatch(spark, statsDir, batchIdFor(newFiles),
        payloadFor(newFiles)) { tmp =>
      rows(newFiles).coalesce(1).write.mode("overwrite").parquet(tmp)
    }

  /** Drop stats rows naming files no longer in the live listing, and
    * prune those files from the ledger payloads (SafeSwap'd together —
    * "covered" and "described" stay consistent). Per-file stats rows
    * are pure functions of ONE file, so dropping a dead file's row is
    * exact — no rebuild needed. This is both a pruning-quality fix
    * (without it, post-delete reads treat every rewritten file as
    * unknown until the next full rebuild) and RTBF hygiene (a bloom
    * row retains the purged keys' HASHES; the sketch of a dead or
    * rewritten file must leave with it). O(stats) — one row per data
    * file — never O(data). */
  private def pruneDead(spark: SparkSession, statsDir: String,
      liveCanon: Set[String]): Int = {
    val rows = statsDf(spark, statsDir)
    val fileVals = rows.select(col("file")).collect()
      .map(_.getString(0))
    val dead = fileVals.filterNot(f => liveCanon(canon(f)))
    if (dead.isEmpty) return 0
    val deadSet = dead.toSet
    val kept = rows.filter(!col("file").isInCollection(deadSet))
    val entries = AppendCommit.appliedEntries(statsDir)
      .map { case (id, pl) =>
        (id, pl.split("\n").filter(p => p.nonEmpty && liveCanon(p))
          .mkString("\n"))
      }
    SafeSwap.replace(statsDir) { tmp =>
      // the lazy read executes inside this write, before the rename
      kept.coalesce(1).write.mode("overwrite").parquet(tmp)
      entries.foreach { case (id, pl) =>
        AppendCommit.markApplied(tmp, id, pl)
      }
    }
    dead.size
  }

  /** Diff-and-converge: append stats for files the ledger has never
    * seen; covered files missing from the live listing (key-delete /
    * compaction rewrites) PRUNE incrementally ([[pruneDead]] — per-file
    * rows subtract exactly, one O(stats) rewrite), never a full
    * rebuild. A stats dir from before the ledger era (no `_applied/`)
    * still rebuilds. */
  private def refreshGeneric(spark: SparkSession, tableDir: String,
      statsDir: String, rows: Seq[String] => DataFrame): Refresh = {
    val fs = Fs.of(tableDir, spark)
    val live = listDataFiles(spark, tableDir)
    if (live.isEmpty) {
      // an emptied table (total stale-delete) drops its stats outright;
      // an empty table that never had stats stays stats-less — both
      // degrade readers to the all-unknown full-scan path
      val had = fs.exists(new Path(statsDir))
      if (had) fs.delete(new Path(statsDir), true)
      return Refresh(rebuilt = had, appended = 0)
    }
    val hasLedger =
      fs.exists(new Path(statsDir, "_applied"))
    if (!fs.exists(new Path(statsDir)) || !hasLedger) {
      rebuildAll(spark, statsDir, live, rows)
      return Refresh(rebuilt = true, appended = 0)
    }
    val liveCanon = live.map(canon).toSet
    if (coveredBy(spark, statsDir).exists(!liveCanon(_)))
      pruneDead(spark, statsDir, liveCanon)
    val covered = coveredBy(spark, statsDir)
    val fresh = live.filterNot(f => covered(canon(f)))
    if (fresh.isEmpty) Refresh(rebuilt = false, appended = 0)
    else {
      appendBatchRows(spark, statsDir, fresh, rows)
      // amortized small-file bound: one stats file lands per batch;
      // past the threshold, fold them (O(stats) rewrite, ledger
      // carried) so planning reads never degrade to a file-open storm
      val nFiles = fs.listStatus(new Path(statsDir)).count { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      if (nFiles >= AutoCompactFiles) compactGeneric(spark, statsDir)
      Refresh(rebuilt = false, appended = fresh.size)
    }
  }

  /** Auto-compaction threshold for the per-batch stats files — same
    * amortized-O(1) idea as [[AppendCommit.AutoCompactAt]]. */
  val AutoCompactFiles: Int = 64

  /** Compact a stats tree: every O(batch) append lands one small
    * parquet file, so years of daily syncs leave hundreds of tiny files
    * that every planning read opens. Compaction rewrites the rows
    * coalesced — from the STATS table itself, O(stats) not O(data) —
    * and CARRIES the ledger across the swap (the covered-file record is
    * replay suppression, not content; same carry as the MinHash index
    * compaction). Run on the maintenance cadence; single writer. */
  private def compactGeneric(spark: SparkSession, statsDir: String): Unit = {
    val fs = Fs.of(statsDir, spark)
    if (!fs.exists(new Path(statsDir))) return
    AppendCommit.compactLedger(statsDir)
    val rows = statsDf(spark, statsDir)
    SafeSwap.replace(statsDir) { tmp =>
      // the lazy read executes inside this write, before the rename
      rows.coalesce(1).write.mode("overwrite").parquet(tmp)
      AppendCommit.copyLedger(statsDir, tmp)
    }
  }

  /** Compact the min/max stats tree for `tableDir`. */
  def compactStats(spark: SparkSession, tableDir: String): Unit =
    compactGeneric(spark, s"$tableDir/$StatsDir")

  // --- min/max stats -----------------------------------------------------

  /** Build (or rebuild) the per-file min/max stats table for `cols` —
    * one scan of the table, grouped by `_metadata.file_path`. Stats live
    * under `<table>/_skip_stats` (underscore-prefixed → invisible to
    * every table reader). For the incremental path use
    * [[refreshStats]]. */
  def buildStats(spark: SparkSession, tableDir: String,
      cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "need at least one column to collect stats on")
    rebuildAll(spark, s"$tableDir/$StatsDir",
      listDataFiles(spark, tableDir),
      statsRowsFor(spark, tableDir, cols, _))
  }

  /** O(batch) stats append for `newFiles` (full table paths/URIs). */
  def appendStats(spark: SparkSession, tableDir: String,
      cols: Seq[String], newFiles: Seq[String]): Boolean = {
    require(cols.nonEmpty && newFiles.nonEmpty,
      "need columns and at least one new file")
    appendBatchRows(spark, s"$tableDir/$StatsDir", newFiles,
      statsRowsFor(spark, tableDir, cols, _))
  }

  /** Converge the min/max stats with the live listing: O(new files) per
    * call on an append-only table; rebuild on deletion. The maintenance
    * cadence entry point ([[graft.Warehouse]] wires it per sync). */
  def refreshStats(spark: SparkSession, tableDir: String,
      cols: Seq[String]): Refresh = {
    require(cols.nonEmpty, "need at least one column to collect stats on")
    refreshGeneric(spark, tableDir, s"$tableDir/$StatsDir",
      statsRowsFor(spark, tableDir, cols, _))
  }

  /** The files a range predicate `lo <= c <= hi` may need: stats-known
    * files whose [min,max] overlaps the range (and still exist), plus
    * every file unknown to the stats (appended since the last refresh —
    * scanned unconditionally for correctness). */
  def candidateFiles(spark: SparkSession, tableDir: String, c: String,
      lo: Any, hi: Any): (Seq[String], Seq[String]) = {
    val stats = statsDf(spark, s"$tableDir/$StatsDir")
    // NULL-stat files drop here too: NULL < lo is NULL → not kept
    val matched = stats
      .filter(!(col(s"max_$c") < lit(lo) || col(s"min_$c") > lit(hi)))
      .select(col("file")).collect().map(_.getString(0)).toSeq
    // canonicalize before comparing: `_metadata.file_path` renders
    // `file:///t/x` where the listing renders `file:/t/x` — a raw
    // string compare would call every known file unknown
    val known = stats.select(col("file")).collect()
      .map(r => canon(r.getString(0))).toSet
    val live = listDataFiles(spark, tableDir)
    val liveSet = live.map(canon).toSet
    val unknown = live.filterNot(f => known(canon(f)))
    (matched.filter(f => liveSet(canon(f))), unknown)
  }

  /** Planner entry for [[graft.plans.SkippingFilePrune]]: given the
    * scan's OWN file listing (no re-list), the subset a `lo <= c <= hi`
    * predicate can need — stats-matched files plus stats-unknown ones.
    * None when the stats are unusable (missing dir, column not
    * collected) — the caller then leaves the plan alone. Bounds are
    * treated inclusively, which is SAFE for strict predicates too (a
    * superset scan; the exact filter re-applies above). */
  private[graft] def pruneListing(spark: SparkSession, tableDir: String,
      c: String, lo: Any, hi: Any, listing: Seq[String])
      : Option[Seq[String]] = {
    val fs = Fs.of(tableDir, spark)
    val statsDir = s"$tableDir/$StatsDir"
    if (!fs.exists(new Path(statsDir))) return None
    val stats = statsDf(spark, statsDir)
    if (!stats.columns.contains(s"min_$c")) return None
    val matched = stats
      .filter(!(col(s"max_$c") < lit(lo) || col(s"min_$c") > lit(hi)))
      .select(col("file")).collect().map(r => canon(r.getString(0))).toSet
    val known = stats.select(col("file")).collect()
      .map(r => canon(r.getString(0))).toSet
    Some(listing.filter { f =>
      val cf = canon(f)
      matched(cf) || !known(cf)
    })
  }

  /** Probe hashes TYPED like the build side, or None when they cannot
    * be trusted. Spark's `xxhash64` is type-sensitive (Int, Long, and
    * Decimal encodings of the same number hash differently), and the
    * bloom sketches were built hashing the COLUMN's type — a literal
    * probe carrying its own runtime type (e.g. `Seq(11)` against a
    * BIGINT column) would hash into nothing, report zero candidates,
    * and silently break the "bloom has no false negatives" premise the
    * delete path leans on. So: resolve the column's data type from the
    * table schema (one footer read — planning-cost class), cast every
    * probe literal to it, and REFUSE to prune (None → caller scans
    * everything) when the column is missing or any non-null probe casts
    * to NULL (an incompatible type can't be hashed faithfully). The
    * exact `isin` predicate above the scan uses the same cast
    * semantics, so the two sides can no longer disagree. */
  /** Probe-batching unit: hashing and bloom-probing run in chunks of
    * this many values, so a 50k-key purge neither builds a one-row plan
    * with 100k expressions nor inlines a 50k-literal array into the
    * probe filter — plans stay constant-size, work scales by chunk
    * count (each chunk is a sub-second pass over the small stats
    * table). */
  private val ProbeChunk = 1024

  private def typedProbeHashes(spark: SparkSession, tableDir: String,
      c: String, values: Seq[Any]): Option[Seq[Long]] = {
    val dt = spark.read.parquet(tableDir).schema
      .find(_.name == c).map(_.dataType)
    dt.flatMap { t =>
      // ANSI mode makes an unconvertible cast THROW on this one-row
      // local plan — same verdict as a lossy null cast: can't prune
      try {
        val out = Seq.newBuilder[Long]
        for (chunk <- values.grouped(ProbeChunk)) {
          val probe = spark.range(1).select(
            chunk.map(v => lit(v).cast(t).isNull) ++
              chunk.map(v => xxhash64(lit(v).cast(t))): _*).head()
          val lossy = chunk.indices.exists(i =>
            probe.getBoolean(i) && chunk(i) != null)
          if (lossy) return None
          out ++= chunk.indices.map(i => probe.getLong(chunk.size + i))
        }
        Some(out.result())
      } catch { case _: org.apache.spark.SparkException |
          _: org.apache.spark.sql.AnalysisException |
          _: java.lang.ArithmeticException |
          _: java.time.DateTimeException |
          _: java.lang.NumberFormatException => None }
    }
  }

  /** Bloom-matched file names for `hashes`, probed in [[ProbeChunk]]
    * batches (a file matches if ANY chunk matches — the union is the
    * same superset the one-shot probe computes). */
  private def bloomMatchedChunked(spark: SparkSession, tableDir: String,
      c: String, hashes: Seq[Long]): Seq[String] =
    hashes.grouped(ProbeChunk).flatMap { hs =>
      bloomMatchedDf(spark, tableDir, c, hs)
        .collect().map(_.getString(0))
    }.toSeq.distinct

  /** Equality/IN twin of [[pruneListing]] over the bloom stats: the
    * subset of `listing` a `c IN (values)` predicate can need —
    * bloom-matched files (probed ENGINE-side) plus bloom-unknown ones.
    * None when no bloom stats exist for `c` or the probe types cannot
    * be hashed faithfully ([[typedProbeHashes]]). */
  private[graft] def pruneListingEq(spark: SparkSession, tableDir: String,
      c: String, values: Seq[Any], listing: Seq[String])
      : Option[Seq[String]] = {
    val fs = Fs.of(tableDir, spark)
    if (values.isEmpty ||
      !fs.exists(new Path(s"$tableDir/${bloomDir(c)}"))) return None
    val hashes = typedProbeHashes(spark, tableDir, c, values) match {
      case None => return None
      case Some(hs) => hs
    }
    val matched = bloomMatchedChunked(spark, tableDir, c, hashes)
      .map(canon).toSet
    val known = statsDf(spark, s"$tableDir/${bloomDir(c)}")
      .select(col("file")).collect().map(r => canon(r.getString(0))).toSet
    Some(listing.filter { f =>
      val cf = canon(f)
      matched(cf) || !known(cf)
    })
  }

  /** Range read through the stats table: scans matched + unknown files
    * only, then applies the exact predicate (file-level skipping is a
    * superset filter, same as row-group pruning). `basePath` keeps
    * Hive partition columns alive when reading leaf files directly. */
  def readRange(spark: SparkSession, tableDir: String, c: String,
      lo: Any, hi: Any): DataFrame = {
    val (matched, unknown) = candidateFiles(spark, tableDir, c, lo, hi)
    val files = matched ++ unknown
    val pred = col(c) >= lit(lo) && col(c) <= lit(hi)
    if (files.isEmpty)
      spark.read.parquet(tableDir).filter(pred).limit(0)
    else
      spark.read.option("basePath", tableDir).parquet(files: _*)
        .filter(pred)
  }

  // --- per-file bloom skipping (equality predicates) ---------------------
  // Min/max prunes RANGES on clustered columns; it is blind to EQUALITY
  // lookups on a column whose values scatter across each file's full
  // range (a hash-clustered user/doc id: every file's [min,max] spans
  // everything, zero pruning). A per-file bloom answers "might this file
  // contain value v" regardless of ordering — the Delta/Iceberg
  // bloom-skipping idea on plain parquet dirs, reusing Catalyst's OWN
  // sketch (`BloomFilterAggregate`, the runtime-join-filter aggregate,
  // exposed as `graft_bloom_agg`) so build-side hashing, sizing, and the
  // wire format are all Spark's. The probe side is engine-side too:
  // `graft_bloom_any(bloom, array(<hashes>))` filters the stats table
  // INSIDE the plan ([[graft.functions.BloomMightContainAny]] wraps the
  // same `org.apache.spark.util.sketch.BloomFilter` the aggregate
  // serializes), so only matched FILE NAMES are collected — never the
  // sketches. At 100 TB ≈ 200k files × ~100 KB sketches, collecting the
  // sketch column would be tens of GB into the driver per lookup; the
  // name list is KBs. Probe values are hashed with the same `xxhash64`
  // expression the build used, evaluated BY Spark on a one-row plan so
  // the two sides can never disagree.
  //
  // Contract mirrors [[candidateFiles]]: files unknown to the stats are
  // always scanned (stale ⇒ less pruning, never wrong answers); a bloom
  // "yes" is a maybe (the exact predicate re-filters after the read);
  // a bloom "no" is definite — no false negatives, so pruning is safe.

  /** Build (or rebuild) the per-file bloom stats for equality lookups
    * on `c`. `expectedItemsPerFile > 0` fixes every sketch's capacity
    * (Spark's default 8 bits/item ≈ 2% FPP at capacity); the default 0
    * sizes each sketch from the file's OBSERVED row count (see
    * [[bloomRowsFor]]) — within 2× of optimal, ~10× smaller stats on
    * typical files. For the incremental path use [[refreshBloom]]. */
  def buildBloom(spark: SparkSession, tableDir: String, c: String,
      expectedItemsPerFile: Long = 0L): Unit =
    rebuildAll(spark, s"$tableDir/${bloomDir(c)}",
      listDataFiles(spark, tableDir),
      bloomRowsFor(spark, tableDir, c, _, expectedItemsPerFile))

  /** Converge the bloom stats with the live listing — O(new files) on
    * an append-only table; rebuild on deletion. */
  def refreshBloom(spark: SparkSession, tableDir: String, c: String,
      expectedItemsPerFile: Long = 0L): Refresh =
    refreshGeneric(spark, tableDir, s"$tableDir/${bloomDir(c)}",
      bloomRowsFor(spark, tableDir, c, _, expectedItemsPerFile))

  /** DELETE HYGIENE, run inside [[Maintain.deleteByKey]]'s commit:
    * converge EVERY skip tree present under `tableDir` — the min/max
    * stats and each per-column bloom — with the post-delete listing.
    * Dead files' rows leave ([[pruneDead]]: a dropped bloom row is also
    * the last place a purged key's hashes survived), and the delete's
    * fresh `del_` rewrites get stats appended so point lookups prune
    * them immediately instead of "unknown → always scan" until the next
    * sync. Column sets are recovered from the trees' OWN schemas (the
    * `min_<c>` fields / the bloom dir name) — no caller wiring. Each
    * tree costs O(its stats) + O(new files); absent trees cost one
    * exists(). */
  def refreshAllTrees(spark: SparkSession, tableDir: String): Unit = {
    val fs = Fs.of(tableDir, spark)
    val statsDir = s"$tableDir/$StatsDir"
    if (fs.exists(new Path(statsDir))) {
      val cols = statsDf(spark, statsDir).columns.toSeq
        .filter(_.startsWith("min_")).map(_.stripPrefix("min_"))
      if (cols.nonEmpty) refreshStats(spark, tableDir, cols)
    }
    fs.listStatus(new Path(tableDir)).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("_skip_bloom_"))
      .map(_.getPath.getName.stripPrefix("_skip_bloom_"))
      .foreach(c => refreshBloom(spark, tableDir, c))
  }

  /** The engine-side probe plan: stats rows whose sketch might contain
    * any of `hashes` — exposed for plan-shape assertions. Output schema
    * is the file name ONLY; the sketch column exists inside the filter
    * and never in the collected projection. */
  private[pipeline] def bloomMatchedDf(spark: SparkSession,
      tableDir: String, c: String, hashes: Seq[Long]): DataFrame = {
    graft.functions.Bloom.register(spark)
    val hashesSql = hashes.map(h => s"${h}L").mkString("array(", ",", ")")
    statsDf(spark, s"$tableDir/${bloomDir(c)}")
      // NULL sketch (no rows reached the aggregate — an all-NULL column
      // slice under a pre-filter) cannot match a non-null probe: the
      // expression is null-propagating, COALESCE makes that a skip
      .filter(expr(s"coalesce(graft_bloom_any(bloom, $hashesSql), false)"))
      .select(col("file"))
  }

  /** The files an equality/IN predicate on `c` may need: bloom-matched
    * known files (probed ENGINE-SIDE — only names reach the driver)
    * plus every file unknown to the stats. Probe values are hashed with
    * Spark's own `xxhash64` expression CAST TO THE COLUMN's TYPE — the
    * exact (function, type) pair the build-side aggregate hashed with
    * ([[typedProbeHashes]]); a probe whose type cannot be reconciled
    * degrades to candidate = ALL live files (correct, just unpruned)
    * rather than a silent zero-match. */
  def candidateFilesEq(spark: SparkSession, tableDir: String, c: String,
      values: Seq[Any]): (Seq[String], Seq[String]) = {
    require(values.nonEmpty, "need at least one lookup value")
    val live = listDataFiles(spark, tableDir)
    val hashes = typedProbeHashes(spark, tableDir, c, values) match {
      case None => return (Seq.empty, live) // everything scans
      case Some(hs) => hs
    }
    val matched = bloomMatchedChunked(spark, tableDir, c, hashes)
    val known = statsDf(spark, s"$tableDir/${bloomDir(c)}")
      .select(col("file")).collect().map(r => canon(r.getString(0))).toSet
    val liveSet = live.map(canon).toSet
    val unknown = live.filterNot(f => known(canon(f)))
    (matched.filter(f => liveSet(canon(f))), unknown)
  }

  /** Point/IN lookup through the bloom stats: scans bloom-matched +
    * unknown files only, then applies the exact `IN` predicate (bloom
    * hits are a superset — FPs re-filter away). */
  def readPointLookup(spark: SparkSession, tableDir: String, c: String,
      values: Seq[Any]): DataFrame = {
    val (matched, unknown) = candidateFilesEq(spark, tableDir, c, values)
    val files = matched ++ unknown
    val pred = col(c).isin(values: _*)
    if (files.isEmpty)
      spark.read.parquet(tableDir).filter(pred).limit(0)
    else
      spark.read.option("basePath", tableDir).parquet(files: _*)
        .filter(pred)
  }

  /** Combined read: `lo <= rc <= hi AND ec IN (values)` pruned through
    * BOTH stats — a file survives only if its [min,max] of `rc` overlaps
    * the range AND its bloom on `ec` might contain a probe value (each
    * pruning is a safe superset, so their INTERSECTION is too). The
    * common warehouse predicate shape — "this customer, this month" —
    * where either index alone leaves 10× the files. Unknown files are
    * the UNION of both sides' unknowns: a file missing from either
    * stats table cannot be safely pruned by the other's verdict alone.
    */
  def readRangeAndPointLookup(spark: SparkSession, tableDir: String,
      rc: String, lo: Any, hi: Any,
      ec: String, values: Seq[Any]): DataFrame = {
    val (rm, ru) = candidateFiles(spark, tableDir, rc, lo, hi)
    val (em, eu) = candidateFilesEq(spark, tableDir, ec, values)
    val unknown = (ru.map(canon) ++ eu.map(canon)).toSet
    val rangeOk = rm.map(canon).toSet ++ ru.map(canon)
    val eqOk = em.map(canon).toSet ++ eu.map(canon)
    val keep = (rm ++ ru ++ em ++ eu)
      .groupBy(canon).map(_._2.head).toSeq
      .filter(f => rangeOk(canon(f)) && eqOk(canon(f)))
    val pred = col(rc) >= lit(lo) && col(rc) <= lit(hi) &&
      col(ec).isin(values: _*)
    if (keep.isEmpty)
      spark.read.parquet(tableDir).filter(pred).limit(0)
    else
      spark.read.option("basePath", tableDir).parquet(keep: _*)
        .filter(pred)
  }
}
